"""Randomized differential testing: generate simple relational queries
from a tiny AST (project / filter / group-agg over lineitem), render the
SAME AST as both a DataFrame plan and DuckDB SQL, and compare results.
Seeded, so failures are reproducible; widens oracle coverage beyond the
hand-written queries to arbitrary operator combinations."""

from __future__ import annotations

import random

import pytest

# r10 tiering (VERDICT r9 #1): e2e/fuzz modules run in the slow tier;
# the driver core gate keeps the unit/plan/oracle-representative layer
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from sql_cdc_spark import tables
from tests.conftest import SF_DIR, assert_matches_oracle

# columns safe for exact cross-engine comparison (integral doubles, ints,
# strings, no free-floating float arithmetic)
NUM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"]
STR_COLS = ["l_returnflag", "l_linestatus"]
AGGS = ["sum", "min", "max", "count"]
OPS = [("<", "__lt__"), (">", "__gt__"), ("<=", "__le__"), (">=", "__ge__")]


def _gen(rng: random.Random) -> dict:
    n_filters = rng.randint(0, 2)
    filters = []
    for _ in range(n_filters):
        col = rng.choice(NUM_COLS)
        op = rng.choice(OPS)
        val = rng.randint(0, 5000)
        filters.append((col, op, val))
    shape = rng.random()
    if shape < 0.35:
        keys = rng.sample(STR_COLS + ["l_linenumber"], rng.randint(1, 2))
        aggs = []
        for _ in range(rng.randint(1, 3)):
            fn = rng.choice(AGGS)
            col = rng.choice(NUM_COLS)
            aggs.append((fn, col, f"{fn}_{col}_{len(aggs)}"))
        return {"filters": filters, "group": keys, "aggs": aggs}
    if shape < 0.6:
        # join lineitem ⨝ orders, grouped rollup on the join result
        keys = rng.sample(["o_orderstatus", "o_orderpriority", "l_returnflag"], 1)
        fn = rng.choice(AGGS)
        col = rng.choice(NUM_COLS)
        return {"filters": filters, "join_group": keys, "aggs": [(fn, col, f"{fn}_{col}")]}
    if shape < 0.7:
        # deterministic top-k: total sort key (all projected cols)
        cols = rng.sample(NUM_COLS, 3)
        return {"filters": filters, "project": cols, "topk": (cols, rng.choice([5, 50]))}
    if shape < 0.78:
        # union of two filtered branches, optionally distinct
        cols = rng.sample(NUM_COLS + STR_COLS, 2)
        pivot = rng.randint(1000, 4000)
        return {
            "filters": filters,
            "union": {"cols": cols, "pivot": pivot, "distinct": rng.random() < 0.5},
        }
    if shape < 0.84:
        # group + HAVING on the aggregate
        keys = rng.sample(STR_COLS, 1)
        fn, col = rng.choice(["sum", "count"]), rng.choice(NUM_COLS)
        return {
            "filters": filters,
            "group": keys,
            "aggs": [(fn, col, f"{fn}_{col}")],
            "having_min": rng.randint(10, 10000),
        }
    if shape < 0.92:
        # partitioned ranking window over a total per-partition order
        part = rng.choice(STR_COLS)
        cols = rng.sample(NUM_COLS, 2)
        return {"filters": filters, "window": {"part": part, "cols": cols}}
    if shape < 0.955:
        # null-producing left join: orders ⟕ (lineitem restricted below a
        # pivot) — unmatched orders exercise the null path in both engines
        pivot = rng.randint(500, 3000)
        return {"filters": [], "left_join": {"pivot": pivot}}
    if shape < 0.985:
        # semi / anti join rendered as [NOT] EXISTS on the SQL side
        pivot = rng.randint(500, 3000)
        return {"filters": filters, "semi": {"pivot": pivot, "anti": rng.random() < 0.5}}
    cols = rng.sample(NUM_COLS + STR_COLS, rng.randint(2, 4))
    return {"filters": filters, "project": cols}


def _aggs(q):
    return [
        (F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(col)).alias(out)
        for fn, col, out in q["aggs"]
    ]


def _to_spark(spark, q: dict):
    df = tables.load(spark, SF_DIR, "lineitem")
    for col, (_, pyop), val in q["filters"]:
        df = df.filter(getattr(F.col(col), pyop)(F.lit(val)))
    if "group" in q:
        out = df.groupBy(*q["group"]).agg(*_aggs(q))
        if "having_min" in q:
            out = out.filter(F.col(q["aggs"][0][2]) >= q["having_min"])
        return out
    if "union" in q:
        cols, pivot = q["union"]["cols"], q["union"]["pivot"]
        a = df.filter(F.col("l_orderkey") < pivot).select(*cols)
        b = df.filter(F.col("l_partkey") < pivot).select(*cols)
        u = a.unionByName(b)
        return u.distinct() if q["union"]["distinct"] else u
    if "join_group" in q:
        orders = tables.load(spark, SF_DIR, "orders")
        joined = df.join(orders, df.l_orderkey == orders.o_orderkey)
        return joined.groupBy(*q["join_group"]).agg(*_aggs(q))
    if "window" in q:
        from pyspark.sql.window import Window

        part, cols = q["window"]["part"], q["window"]["cols"]
        w = Window.partitionBy(part).orderBy(
            *[F.col(c).asc() for c in cols + ["l_orderkey", "l_linenumber"]]
        )
        return df.select(part, *cols, F.row_number().over(w).alias("rn"))
    if "left_join" in q:
        pivot = q["left_join"]["pivot"]
        orders = tables.load(spark, SF_DIR, "orders")
        li = df.filter(F.col("l_orderkey") < pivot)
        joined = orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        return joined.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("l_orderkey").alias("n_matched"),
            F.sum(F.coalesce(F.col("l_quantity"), F.lit(0.0))).alias("qty_sum"),
        )
    if "semi" in q:
        pivot, anti = q["semi"]["pivot"], q["semi"]["anti"]
        orders = tables.load(spark, SF_DIR, "orders").filter(
            F.col("o_orderkey") < pivot
        )
        how = "left_anti" if anti else "left_semi"
        j = df.join(orders, df.l_orderkey == orders.o_orderkey, how)
        return j.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("qty_sum"),
        )
    if "topk" in q:
        cols, k = q["topk"]
        # PK tiebreak makes the sort total so the k-boundary is stable
        order = [F.col(c).asc() for c in cols + ["l_orderkey", "l_linenumber"]]
        return df.orderBy(*order).limit(k).select(*q["project"])
    return df.select(*q["project"])


def _to_sql(q: dict) -> str:
    where = " AND ".join(
        f"{col} {sqlop} {val}" for col, (sqlop, _), val in q["filters"]
    )
    where = f"WHERE {where}" if where else ""
    agg_sql = lambda: ", ".join(  # noqa: E731
        ("COUNT(*)" if fn == "count" else f"{fn.upper()}({col})") + f" AS {out}"
        for fn, col, out in q.get("aggs", [])
    )
    if "group" in q:
        sel = ", ".join(q["group"])
        having = ""
        if "having_min" in q:
            fn, col, _ = q["aggs"][0]
            agg = "COUNT(*)" if fn == "count" else f"{fn.upper()}({col})"
            having = f"HAVING {agg} >= {q['having_min']}"
        return (
            f"SELECT {sel}, {agg_sql()} FROM lineitem {where} "
            f"GROUP BY {', '.join(q['group'])} {having}"
        )
    if "union" in q:
        cols, pivot = q["union"]["cols"], q["union"]["pivot"]
        sel = ", ".join(cols)
        conj = "AND" if q["filters"] else "WHERE"
        op = "UNION" if q["union"]["distinct"] else "UNION ALL"
        return (
            f"SELECT {sel} FROM lineitem {where} {conj} l_orderkey < {pivot} "
            f"{op} "
            f"SELECT {sel} FROM lineitem {where} {conj} l_partkey < {pivot}"
        )
    if "join_group" in q:
        sel = ", ".join(q["join_group"])
        return (
            f"SELECT {sel}, {agg_sql()} "
            f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey {where} "
            f"GROUP BY {', '.join(q['join_group'])}"
        )
    if "window" in q:
        part, cols = q["window"]["part"], q["window"]["cols"]
        order = ", ".join(f"{c} ASC" for c in cols + ["l_orderkey", "l_linenumber"])
        return (
            f"SELECT {part}, {', '.join(cols)}, "
            f"ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {order}) AS rn "
            f"FROM lineitem {where}"
        )
    if "left_join" in q:
        pivot = q["left_join"]["pivot"]
        return (
            f"SELECT o_orderstatus, COUNT(*) AS n_rows, "
            f"COUNT(l_orderkey) AS n_matched, "
            f"SUM(COALESCE(l_quantity, 0.0)) AS qty_sum "
            f"FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_orderkey < {pivot}) l "
            f"ON o_orderkey = l_orderkey GROUP BY o_orderstatus"
        )
    if "semi" in q:
        pivot, anti = q["semi"]["pivot"], q["semi"]["anti"]
        conj = "AND" if q["filters"] else "WHERE"
        neg = "NOT " if anti else ""
        return (
            f"SELECT l_returnflag, COUNT(*) AS n_rows, SUM(l_quantity) AS qty_sum "
            f"FROM lineitem {where} {conj} {neg}EXISTS ("
            f"SELECT 1 FROM orders WHERE o_orderkey = l_orderkey "
            f"AND o_orderkey < {pivot}) GROUP BY l_returnflag"
        )
    if "topk" in q:
        cols, k = q["topk"]
        order = ", ".join(f"{c} ASC" for c in cols + ["l_orderkey", "l_linenumber"])
        return (
            f"SELECT {', '.join(q['project'])} FROM ("
            f"SELECT * FROM lineitem {where} ORDER BY {order} LIMIT {k})"
        )
    return f"SELECT {', '.join(q['project'])} FROM lineitem {where}"


@pytest.mark.parametrize("seed", range(80))
def test_random_query_matches_duckdb(spark, oracle, seed):
    rng = random.Random(1000 + seed)
    q = _gen(rng)
    assert_matches_oracle(_to_spark(spark, q), oracle, _to_sql(q))


# ---- family 2: conditional aggregates, COUNT(DISTINCT), ROLLUP, scalar
# expressions — kept in a separate generator so family-1 seeds keep
# producing the exact same queries round over round ----


def _gen2(rng: random.Random) -> dict:
    col = rng.choice(NUM_COLS)
    op = rng.choice(OPS)
    val = rng.randint(0, 5000)
    filters = [(col, op, val)] if rng.random() < 0.5 else []
    shape = rng.random()
    if shape < 0.3:
        # conditional aggregate: CASE-gated cents-exact revenue per flag
        return {
            "filters": filters,
            "cond_agg": {
                "key": rng.choice(STR_COLS),
                "qty_pivot": rng.randint(5, 45),
            },
        }
    if shape < 0.55:
        # COUNT(DISTINCT x) + plain count per group
        return {
            "filters": filters,
            "count_distinct": {
                "key": rng.choice(STR_COLS),
                "col": rng.choice(NUM_COLS),
            },
        }
    if shape < 0.8:
        # ROLLUP over two keys: exercises null grouping keys + subtotals.
        # Filter is pinned to a never-empty predicate: on an EMPTY input
        # DuckDB follows the standard and still emits the () grand-total
        # row while Spark's rollup emits nothing — a real engine
        # divergence this fuzzer family documents rather than trips on.
        nonempty = [("l_orderkey", (">=", "__ge__"), rng.randint(0, 5000))]
        keys = rng.sample(STR_COLS + ["l_linenumber"], 2)
        return {"filters": nonempty, "rollup": keys}
    # scalar-expression projection: string concat/substr + int arithmetic
    return {"filters": filters, "scalar": {"mod": rng.randint(2, 9)}}


def _to_spark2(spark, q: dict):
    df = tables.load(spark, SF_DIR, "lineitem")
    for col, (_, pyop), val in q["filters"]:
        df = df.filter(getattr(F.col(col), pyop)(F.lit(val)))
    if "cond_agg" in q:
        key, pivot = q["cond_agg"]["key"], q["cond_agg"]["qty_pivot"]
        cents = F.round(F.col("l_extendedprice") * 100).cast("long")
        return df.groupBy(key).agg(
            F.sum(F.when(F.col("l_quantity") > pivot, cents).otherwise(0)).alias(
                "big_cents"
            ),
            F.sum(F.when(F.col("l_quantity") > pivot, 1).otherwise(0)).alias(
                "n_big"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    if "count_distinct" in q:
        key, col = q["count_distinct"]["key"], q["count_distinct"]["col"]
        return df.groupBy(key).agg(
            F.countDistinct(col).alias("n_distinct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    if "rollup" in q:
        keys = q["rollup"]
        return df.rollup(*keys).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("qty_sum"),
        )
    m = q["scalar"]["mod"]
    return df.select(
        F.concat(F.upper("l_returnflag"), F.lit("-"), F.col("l_linestatus")).alias(
            "tag"
        ),
        F.substring(F.col("l_returnflag"), 1, 1).alias("flag1"),
        (F.col("l_orderkey") % m).alias("key_mod"),
        (F.col("l_linenumber") * 10 + F.col("l_suppkey") % 10).alias("mix"),
    )


def _to_sql2(q: dict) -> str:
    where = " AND ".join(
        f"{col} {sqlop} {val}" for col, (sqlop, _), val in q["filters"]
    )
    where = f"WHERE {where}" if where else ""
    if "cond_agg" in q:
        key, pivot = q["cond_agg"]["key"], q["cond_agg"]["qty_pivot"]
        return (
            f"SELECT {key}, "
            f"SUM(CASE WHEN l_quantity > {pivot} "
            f"THEN CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) ELSE 0 END) AS big_cents, "
            f"SUM(CASE WHEN l_quantity > {pivot} THEN 1 ELSE 0 END) AS n_big, "
            f"COUNT(*) AS n_rows "
            f"FROM lineitem {where} GROUP BY {key}"
        )
    if "count_distinct" in q:
        key, col = q["count_distinct"]["key"], q["count_distinct"]["col"]
        return (
            f"SELECT {key}, COUNT(DISTINCT {col}) AS n_distinct, "
            f"COUNT(*) AS n_rows FROM lineitem {where} GROUP BY {key}"
        )
    if "rollup" in q:
        keys = ", ".join(q["rollup"])
        return (
            f"SELECT {keys}, COUNT(*) AS n_rows, SUM(l_quantity) AS qty_sum "
            f"FROM lineitem {where} GROUP BY ROLLUP ({keys})"
        )
    m = q["scalar"]["mod"]
    return (
        f"SELECT upper(l_returnflag) || '-' || l_linestatus AS tag, "
        f"substring(l_returnflag, 1, 1) AS flag1, "
        f"l_orderkey % {m} AS key_mod, "
        f"l_linenumber * 10 + l_suppkey % 10 AS mix "
        f"FROM lineitem {where}"
    )


@pytest.mark.parametrize("seed", range(40))
def test_random_query2_matches_duckdb(spark, oracle, seed):
    rng = random.Random(7000 + seed)
    q = _gen2(rng)
    assert_matches_oracle(_to_spark2(spark, q), oracle, _to_sql2(q))


# ---- family 3: documents string functions + random-width event-time
# buckets — the string-dialect and window-alignment risk areas ----

WORDS = ["table", "scan", "merge", "vector", "customer", "stream"]


def _gen3(rng: random.Random) -> dict:
    shape = rng.random()
    if shape < 0.4:
        # scalar string functions over documents (patterns are literal
        # words: identical semantics in Java regex and DuckDB RE2)
        return {
            "doc_scalar": {
                "needle": rng.choice(WORDS),
                "lo": rng.randint(1, 20),
                "ln": rng.randint(3, 12),
            }
        }
    if shape < 0.65:
        # grouped doc stats with a length predicate
        return {"doc_group": {"min_chars": rng.randint(100, 400)}}
    # random-width tumbling buckets in exact integer microseconds:
    # catches any off-by-one in epoch alignment math
    minutes = rng.choice([7, 11, 45, 90, 180])
    return {"evt_bucket": {"width_us": minutes * 60_000_000}}


def _to_spark3(spark, q: dict):
    if "doc_scalar" in q:
        p = q["doc_scalar"]
        docs = tables.load(spark, SF_DIR, "documents")
        return docs.select(
            "doc_id",
            F.length("text").cast("int").alias("n"),
            F.regexp_count(F.col("text"), F.lit(p["needle"])).alias("hits"),
            F.substring(F.col("text"), p["lo"], p["ln"]).alias("frag"),
            F.upper(F.substring(F.col("lang"), 1, 1)).alias("l1"),
        )
    if "doc_group" in q:
        p = q["doc_group"]
        docs = tables.load(spark, SF_DIR, "documents").filter(
            F.col("n_chars") >= p["min_chars"]
        )
        return docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    w = q["evt_bucket"]["width_us"]
    ev = tables.load(spark, SF_DIR, "events")
    bucket = (F.unix_micros(F.col("ts")) / w).cast("long") * w
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy(bucket.alias("bucket_us"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("cents"),
    )


def _to_sql3(q: dict) -> str:
    if "doc_scalar" in q:
        p = q["doc_scalar"]
        return (
            f"SELECT doc_id, CAST(length(text) AS INTEGER) AS n, "
            f"CAST(len(regexp_extract_all(text, '{p['needle']}')) AS INTEGER) AS hits, "
            f"substring(text, {p['lo']}, {p['ln']}) AS frag, "
            f"upper(substring(lang, 1, 1)) AS l1 FROM documents"
        )
    if "doc_group" in q:
        p = q["doc_group"]
        return (
            f"SELECT lang, source, COUNT(*) AS n_docs, "
            f"CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
            f"MIN(doc_id) AS first_doc "
            f"FROM documents WHERE n_chars >= {p['min_chars']} "
            f"GROUP BY lang, source"
        )
    w = q["evt_bucket"]["width_us"]
    return (
        f"SELECT epoch_us(ts) // {w} * {w} AS bucket_us, event_type, "
        f"COUNT(*) AS n, "
        f"CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents "
        f"FROM events GROUP BY bucket_us, event_type"
    )


@pytest.mark.parametrize("seed", range(30))
def test_random_query3_matches_duckdb(spark, oracle, seed):
    rng = random.Random(9000 + seed)
    q = _gen3(rng)
    assert_matches_oracle(_to_spark3(spark, q), oracle, _to_sql3(q))


# ---- family 4: star joins with random dim filters + window FRAMES
# (rows-between, lag/lead, ntile) — frame-boundary alignment and
# dim-join pruning are the remaining untested risk areas ----


def _gen4(rng: random.Random) -> dict:
    shape = rng.random()
    if shape < 0.3:
        # star join: li ⨝ orders ⨝ customer ⨝ nation, random nation
        # subset + random order-date year, cents-exact revenue by nation
        return {
            "star": {
                "nations": rng.sample(range(25), rng.randint(2, 6)),
                "year": rng.randint(1995, 2000),
            }
        }
    if shape < 0.6:
        # windowed frame sum: ROWS BETWEEN b PRECEDING AND {0|a FOLLOWING}
        return {
            "frame": {
                "preceding": rng.randint(0, 5),
                "following": rng.choice([0, 0, rng.randint(1, 3)]),
            }
        }
    if shape < 0.85:
        # lag/lead deltas per customer over a total order-date order
        return {"lag": {"off": rng.randint(1, 3), "lead": rng.random() < 0.5}}
    # ntile over a total per-flag order
    return {"ntile": {"n": rng.randint(2, 7)}}


def _to_spark4(spark, q: dict):
    from pyspark.sql.window import Window

    if "star" in q:
        p = q["star"]
        li = tables.load(spark, SF_DIR, "lineitem")
        orders = tables.load(spark, SF_DIR, "orders").filter(
            F.year("o_orderdate") == p["year"]
        )
        cust = tables.load(spark, SF_DIR, "customer")
        nation = tables.load(spark, SF_DIR, "nation").filter(
            F.col("n_nationkey").isin(p["nations"])
        )
        cents = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(
                (F.sum(cents) / 100.0).alias("revenue"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )
    if "frame" in q:
        p = q["frame"]
        li = tables.load(spark, SF_DIR, "lineitem").filter(
            F.col("l_suppkey") <= 20
        )
        w = (
            Window.partitionBy("l_suppkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(-p["preceding"], p["following"])
        )
        return li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(F.col("l_quantity").cast("long")).over(w).alias("qty_win"),
        )
    if "lag" in q:
        p = q["lag"]
        orders = tables.load(spark, SF_DIR, "orders").filter(
            F.col("o_custkey") <= 100
        )
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        fn = F.lead if p["lead"] else F.lag
        return orders.select(
            "o_custkey",
            "o_orderkey",
            fn("o_orderkey", p["off"]).over(w).alias("neighbor_key"),
        )
    n = q["ntile"]["n"]
    li = tables.load(spark, SF_DIR, "lineitem").filter(F.col("l_orderkey") <= 2000)
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.ntile(n).over(w).alias("bucket"),
    )


def _to_sql4(q: dict) -> str:
    if "star" in q:
        p = q["star"]
        nat = ", ".join(str(x) for x in p["nations"])
        return (
            f"SELECT n_name, "
            f"SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0 AS revenue, "
            f"COUNT(*) AS n_lines "
            f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            f"JOIN customer ON o_custkey = c_custkey "
            f"JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE EXTRACT(year FROM o_orderdate) = {p['year']} "
            f"AND n_nationkey IN ({nat}) GROUP BY n_name"
        )
    if "frame" in q:
        p = q["frame"]
        end = f"{p['following']} FOLLOWING" if p["following"] else "CURRENT ROW"
        return (
            f"SELECT l_suppkey, l_orderkey, l_linenumber, "
            f"SUM(CAST(l_quantity AS BIGINT)) OVER ("
            f"PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber "
            f"ROWS BETWEEN {p['preceding']} PRECEDING AND {end}) AS qty_win "
            f"FROM lineitem WHERE l_suppkey <= 20"
        )
    if "lag" in q:
        p = q["lag"]
        fn = "LEAD" if p["lead"] else "LAG"
        return (
            f"SELECT o_custkey, o_orderkey, "
            f"{fn}(o_orderkey, {p['off']}) OVER ("
            f"PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS neighbor_key "
            f"FROM orders WHERE o_custkey <= 100"
        )
    n = q["ntile"]["n"]
    return (
        f"SELECT l_returnflag, l_orderkey, l_linenumber, "
        f"NTILE({n}) OVER (PARTITION BY l_returnflag "
        f"ORDER BY l_quantity, l_orderkey, l_linenumber) AS bucket "
        f"FROM lineitem WHERE l_orderkey <= 2000"
    )


@pytest.mark.parametrize("seed", range(30))
def test_random_query4_matches_duckdb(spark, oracle, seed):
    rng = random.Random(11000 + seed)
    q = _gen4(rng)
    assert_matches_oracle(_to_spark4(spark, q), oracle, _to_sql4(q))


# ---- family 5: outer joins with null-handling, set operations, and
# correlated EXISTS/NOT EXISTS — the three-valued-logic surfaces where
# engines classically diverge (NULL semantics in joins, bag-vs-set ops,
# correlated decorrelation) ----


def _gen5(rng: random.Random) -> dict:
    bal = rng.randrange(-900, 9000, 250)  # customer acctbal threshold
    seg = rng.choice(
        ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
    )
    key_mod = rng.choice([3, 7, 11])
    shape = rng.random()
    if shape < 0.35:
        # LEFT JOIN vs a filtered dim: unmatched rows carry NULLs — count
        # both sides of the match and a coalesce-summed measure per status
        return {"left": {"bal": bal, "seg": seg}}
    if shape < 0.60:
        # set op over key projections with disjoint random filters
        return {
            "setop": {
                "op": rng.choice(["intersect", "except"]),
                "bal": bal,
                "key_mod": key_mod,
            }
        }
    # correlated (NOT) EXISTS → semi/anti join decorrelation
    return {
        "exists": {"neg": rng.random() < 0.5, "bal": bal, "seg": seg}
    }


def _to_spark5(spark, q: dict):
    orders = tables.load(spark, SF_DIR, "orders")
    cust = tables.load(spark, SF_DIR, "customer")
    if "left" in q:
        p = q["left"]
        dim = cust.filter(
            (F.col("c_acctbal") > p["bal"]) & (F.col("c_mktsegment") == p["seg"])
        ).select("c_custkey", "c_acctbal")
        j = orders.join(dim, orders.o_custkey == dim.c_custkey, "left")
        return j.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("c_custkey").alias("n_matched"),
            F.sum(
                F.coalesce(
                    F.round(F.col("c_acctbal") * 100).cast("long"), F.lit(-1)
                )
            ).alias("bal_c"),
        )
    if "setop" in q:
        p = q["setop"]
        a = orders.filter(F.col("o_orderkey") % p["key_mod"] == 0).select(
            F.col("o_custkey").alias("k")
        )
        b = cust.filter(F.col("c_acctbal") > p["bal"]).select(
            F.col("c_custkey").alias("k")
        )
        # intersect / subtract are the SET-semantics ops (SQL INTERSECT /
        # EXCEPT); exceptAll-of-a-set would leave surviving duplicates
        return a.intersect(b) if p["op"] == "intersect" else a.subtract(b)
    p = q["exists"]
    dim = cust.filter(
        (F.col("c_acctbal") > p["bal"]) & (F.col("c_mktsegment") == p["seg"])
    ).select("c_custkey")
    how = "left_anti" if p["neg"] else "left_semi"
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey, how)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "price_c"
            ),
        )
    )


def _to_sql5(q: dict) -> str:
    if "left" in q:
        p = q["left"]
        return f"""
SELECT o.o_orderstatus, COUNT(*) AS n_orders, COUNT(c.c_custkey) AS n_matched,
       SUM(COALESCE(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT), -1)) AS bal_c
FROM orders o
LEFT JOIN (SELECT c_custkey, c_acctbal FROM customer
           WHERE c_acctbal > {p["bal"]} AND c_mktsegment = '{p["seg"]}') c
  ON o.o_custkey = c.c_custkey
GROUP BY o.o_orderstatus
"""
    if "setop" in q:
        p = q["setop"]
        op = "INTERSECT" if p["op"] == "intersect" else "EXCEPT"
        return f"""
SELECT o_custkey AS k FROM orders WHERE o_orderkey % {p["key_mod"]} = 0
{op}
SELECT c_custkey AS k FROM customer WHERE c_acctbal > {p["bal"]}
"""
    p = q["exists"]
    neg = "NOT " if p["neg"] else ""
    return f"""
SELECT o.o_orderpriority, COUNT(*) AS n,
       SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS price_c
FROM orders o
WHERE {neg}EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey
    AND c.c_acctbal > {p["bal"]} AND c.c_mktsegment = '{p["seg"]}'
)
GROUP BY o.o_orderpriority
"""


@pytest.mark.parametrize("seed", range(30))
def test_random_query5_matches_duckdb(spark, oracle, seed):
    rng = random.Random(13000 + seed)
    q = _gen5(rng)
    assert_matches_oracle(_to_spark5(spark, q), oracle, _to_sql5(q))


# ---- family 6: higher-order array lambdas (transform / filter /
# aggregate / zip_with / sort-distinct-slice / exists-forall) over the
# embeddings table — the nested-data surface where lambda-binding and
# null/empty-list semantics diverge between engines. All arithmetic runs
# in the exact integer-micro domain (round(x·1e6) as bigint, the
# sim_embedding_quantize parity trick), so comparisons are bit-exact. ----

_MICRO_SPARK = None  # built per-query; embeddings are float32 → double → micros


def _micro_col():
    return F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e6).cast("long"),
    )


_MICRO_SQL = (
    "list_transform(embedding, x -> "
    "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
)


def _gen6(rng: random.Random) -> dict:
    shape = rng.random()
    if shape < 0.4:
        # map-filter-fold: affine transform, residue filter, summed fold.
        # The filtered list is often EMPTY — exactly the case where
        # DuckDB's list_sum returns NULL but a fold with 0-init returns 0.
        return {
            "mapfold": {
                "a": rng.randint(1, 5),
                "b": rng.randint(-1000, 1000),
                "m": rng.choice([3, 7, 11, 13]),
                "r": rng.randint(0, 2),
            }
        }
    if shape < 0.7:
        # zip_with over the vector and its reverse — positional binding
        # of a genuine two-parameter lambda (the surface where an extra
        # defaulted parameter silently binds the element index)
        return {"zipdot": {"lo": rng.randint(1, 32), "ln": rng.randint(4, 32)}}
    # sort/distinct/slice + exists/forall predicates
    return {
        "sorttop": {"k": rng.randint(2, 8), "t": rng.randint(-900_000, 900_000)}
    }


def _to_spark6(spark, q: dict):
    emb = tables.load(spark, SF_DIR, "embeddings")
    micro = _micro_col()
    if "mapfold" in q:
        p = q["mapfold"]
        mapped = F.transform(micro, lambda x: x * F.lit(p["a"]) + F.lit(p["b"]))
        kept = F.filter(mapped, lambda x: x % p["m"] == p["r"])
        return emb.select(
            "vec_id",
            F.size(kept).cast("int").alias("n_kept"),
            F.aggregate(
                kept, F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("s"),
        )
    if "zipdot" in q:
        p = q["zipdot"]
        win = F.slice(micro, p["lo"], p["ln"])
        rev = F.reverse(win)
        return emb.select(
            "vec_id",
            F.aggregate(
                F.zip_with(win, rev, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("revdot"),
            F.size(win).cast("int").alias("w"),
        )
    p = q["sorttop"]
    top = F.slice(F.reverse(F.array_sort(F.array_distinct(micro))), 1, p["k"])
    return emb.select(
        "vec_id",
        F.concat_ws("-", F.transform(top, lambda x: x.cast("string"))).alias(
            "top_str"
        ),
        F.exists(micro, lambda x: x > F.lit(p["t"])).cast("int").alias("has_gt"),
        F.forall(micro, lambda x: x <= F.lit(p["t"])).cast("int").alias("all_le"),
    )


def _to_sql6(q: dict) -> str:
    if "mapfold" in q:
        p = q["mapfold"]
        kept = (
            f"list_filter(list_transform({_MICRO_SQL}, "
            f"x -> x * {p['a']} + {p['b']}), x -> x % {p['m']} = {p['r']})"
        )
        return (
            f"SELECT vec_id, CAST(len({kept}) AS INTEGER) AS n_kept, "
            f"COALESCE(CAST(list_sum({kept}) AS BIGINT), 0) AS s "
            f"FROM embeddings"
        )
    if "zipdot" in q:
        p = q["zipdot"]
        lo, hi = p["lo"], p["lo"] + p["ln"] - 1
        win = f"({_MICRO_SQL})[{lo}:{hi}]"
        prod = (
            f"list_transform(range(1, len({win}) + 1), "
            f"i -> ({win})[i] * ({win})[len({win}) - i + 1])"
        )
        return (
            f"SELECT vec_id, COALESCE(CAST(list_sum({prod}) AS BIGINT), 0) "
            f"AS revdot, CAST(len({win}) AS INTEGER) AS w FROM embeddings"
        )
    p = q["sorttop"]
    top = f"(list_sort(list_distinct({_MICRO_SQL}), 'DESC'))[1:{p['k']}]"
    return (
        f"SELECT vec_id, "
        f"array_to_string(list_transform({top}, x -> CAST(x AS VARCHAR)), '-') "
        f"AS top_str, "
        f"CAST(len(list_filter({_MICRO_SQL}, x -> x > {p['t']})) > 0 AS INTEGER) "
        f"AS has_gt, "
        f"CAST(len(list_filter({_MICRO_SQL}, x -> x > {p['t']})) = 0 AS INTEGER) "
        f"AS all_le FROM embeddings"
    )


@pytest.mark.parametrize("seed", range(30))
def test_random_query6_matches_duckdb(spark, oracle, seed):
    rng = random.Random(15000 + seed)
    q = _gen6(rng)
    assert_matches_oracle(_to_spark6(spark, q), oracle, _to_sql6(q))


# ---- family 7: date/timestamp field extraction, day arithmetic, and
# interval shifts over orders.o_orderdate — the calendar surface where
# engine conventions classically diverge (field numbering, diff sign,
# truncation types). All outputs are plain integers (year*100+month
# keys, day counts, cents), never engine-native DATE/TIMESTAMP values.
# Deliberately avoided: dayofweek (Spark 1=Sunday vs DuckDB 0=Sunday). ----

_F7_FIELDS = ["year", "month", "quarter", "day"]
_F7_ANCHORS = ["1995-06-01", "1996-01-15", "1997-09-30"]


def _gen7(rng: random.Random) -> dict:
    shape = rng.random()
    if shape < 0.4:
        return {"extract": {"field": rng.choice(_F7_FIELDS)}}
    if shape < 0.7:
        return {
            "lagbucket": {
                "anchor": rng.choice(_F7_ANCHORS),
                "width": rng.choice([7, 30, 90]),
            }
        }
    return {"shift": {"days": rng.randint(-400, 400)}}


def _to_spark7(spark, q: dict):
    orders = tables.load(spark, SF_DIR, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    if "extract" in q:
        fld = q["extract"]["field"]
        col = {
            "year": F.year, "month": F.month,
            "quarter": F.quarter, "day": F.dayofmonth,
        }[fld](F.col("o_orderdate")).cast("int")
        return orders.groupBy(col.alias("f")).agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents")
        )
    if "lagbucket" in q:
        p = q["lagbucket"]
        lag = F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(p["anchor"]).cast("date")
        )
        bucket = F.expr(
            f"CAST(datediff(CAST(o_orderdate AS DATE), DATE'{p['anchor']}') "
            f"div {p['width']} AS BIGINT)"
        )
        return orders.groupBy(bucket.alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.min(lag).cast("int").alias("min_lag"),
            F.max(lag).cast("int").alias("max_lag"),
        )
    d = q["shift"]["days"]
    shifted = F.date_add(F.col("o_orderdate").cast("date"), d)
    ym = (F.year(shifted) * 100 + F.month(shifted)).cast("int")
    return orders.groupBy(ym.alias("ym")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents")
    )


def _to_sql7(q: dict) -> str:
    cents = "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)"
    if "extract" in q:
        fld = q["extract"]["field"]
        return (
            f"SELECT CAST(EXTRACT({fld} FROM o_orderdate) AS INTEGER) AS f, "
            f"COUNT(*) AS n, {cents} AS cents FROM orders GROUP BY f"
        )
    if "lagbucket" in q:
        p = q["lagbucket"]
        lag = f"date_diff('day', DATE '{p['anchor']}', CAST(o_orderdate AS DATE))"
        return (
            f"SELECT CAST({lag} // {p['width']} AS BIGINT) AS b, COUNT(*) AS n, "
            f"CAST(MIN({lag}) AS INTEGER) AS min_lag, "
            f"CAST(MAX({lag}) AS INTEGER) AS max_lag "
            f"FROM orders GROUP BY b"
        )
    d = q["shift"]["days"]
    # DuckDB's INTERVAL literal rejects negative/parenthesized counts —
    # multiply a unit interval instead
    sh = f"(CAST(o_orderdate AS DATE) + ({d}) * INTERVAL 1 DAY)"
    return (
        f"SELECT CAST(EXTRACT(year FROM {sh}) * 100 + EXTRACT(month FROM {sh}) "
        f"AS INTEGER) AS ym, COUNT(*) AS n, {cents} AS cents "
        f"FROM orders GROUP BY ym"
    )


@pytest.mark.parametrize("seed", range(30))
def test_random_query7_matches_duckdb(spark, oracle, seed):
    rng = random.Random(17000 + seed)
    q = _gen7(rng)
    assert_matches_oracle(_to_spark7(spark, q), oracle, _to_sql7(q))


# ---- family 8: correlated and nested subquery shapes — the
# decorrelation surface. A correlated scalar subquery is what Catalyst
# rewrites to a join-on-aggregate; this family renders the SUBQUERY form
# to DuckDB and the DECORRELATED join form to Spark, so a divergence in
# empty-group null semantics (COUNT over no rows = 0, SUM/MAX = NULL),
# filter-vs-join placement, or window-over-aggregate evaluation order
# trips a seed. All outputs are exact integers. ----

_F8_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _gen8(rng: random.Random) -> dict:
    shape = rng.random()
    if shape < 0.28:
        return {
            "scalar_proj": {
                "fn": rng.choice(["count", "sum", "max", "min"]),
                "pivot": rng.randint(500, 4000),
            }
        }
    if shape < 0.55:
        return {
            "corr_filter": {
                "factor": rng.randint(2, 9),
                "status": rng.choice(["O", "F", "P"]),
            }
        }
    if shape < 0.8:
        return {"agg_of_agg": {"priority": rng.choice(_F8_PRIORITIES)}}
    return {"win_over_agg": {"desc": rng.random() < 0.5}}


_QTY_INT_SQL = "CAST(ROUND(l_quantity, 0) AS BIGINT)"


def _to_spark8(spark, q: dict):
    orders = tables.load(spark, SF_DIR, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    if "scalar_proj" in q:
        p = q["scalar_proj"]
        li = tables.load(spark, SF_DIR, "lineitem")
        agg = {
            "count": F.count(F.lit(1)),
            "sum": F.sum(F.round(F.col("l_quantity")).cast("long")),
            "max": F.max(F.col("l_linenumber").cast("long")),
            "min": F.min(F.col("l_partkey").cast("long")),
        }[p["fn"]]
        per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
            agg.alias("__s")
        )
        # correlated COUNT(*) over no rows is 0; SUM/MAX/MIN are NULL —
        # the decorrelated left join must coalesce to the same values
        sentinel = 0 if p["fn"] == "count" else -1
        return (
            orders.filter(F.col("o_orderkey") < p["pivot"])
            .join(per_order, ["o_orderkey"], "left")
            .select(
                "o_orderkey",
                F.coalesce(F.col("__s"), F.lit(sentinel)).cast("long").alias("sval"),
            )
        )
    if "corr_filter" in q:
        p = q["corr_filter"]
        li = tables.load(spark, SF_DIR, "lineitem")
        line_cents = (
            li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
            .agg(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                    "__lc"
                )
            )
        )
        kept = (
            orders.filter(F.col("o_orderstatus") == p["status"])
            .join(line_cents, ["o_orderkey"])
            .filter(cents * p["factor"] > F.col("__lc"))
        )
        return kept.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("hdr_cents")
        )
    if "agg_of_agg" in q:
        p = q["agg_of_agg"]
        cust = tables.load(spark, SF_DIR, "customer")
        filtered = orders.filter(F.col("o_orderpriority") == p["priority"])
        per_cust = (
            cust.join(
                filtered.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey"),
                ["c_custkey"],
                "left",
            )
            .groupBy("c_custkey")
            .agg(F.count(F.col("o_orderkey")).alias("c_count"))
        )
        return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))
    from pyspark.sql import Window

    p = q["win_over_agg"]
    grouped = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("grp_cents")
    )
    order_col = (
        F.col("grp_cents").desc() if p["desc"] else F.col("grp_cents").asc()
    )
    w_rank = Window.partitionBy("o_orderstatus").orderBy(
        order_col, F.col("o_orderpriority")
    )
    w_tot = Window.partitionBy("o_orderstatus")
    return grouped.select(
        "o_orderstatus",
        "o_orderpriority",
        "n",
        "grp_cents",
        F.rank().over(w_rank).cast("long").alias("rnk"),
        F.sum("grp_cents").over(w_tot).cast("long").alias("status_cents"),
    )


def _to_sql8(q: dict) -> str:
    cents = "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"
    if "scalar_proj" in q:
        p = q["scalar_proj"]
        sub = {
            "count": "COUNT(*)",
            "sum": f"SUM({_QTY_INT_SQL})",
            "max": "MAX(CAST(l_linenumber AS BIGINT))",
            "min": "MIN(CAST(l_partkey AS BIGINT))",
        }[p["fn"]]
        sentinel = 0 if p["fn"] == "count" else -1
        return (
            f"SELECT o_orderkey, CAST(COALESCE((SELECT {sub} FROM lineitem l "
            f"WHERE l.l_orderkey = o.o_orderkey), {sentinel}) AS BIGINT) AS sval "
            f"FROM orders o WHERE o_orderkey < {p['pivot']}"
        )
    if "corr_filter" in q:
        p = q["corr_filter"]
        return (
            f"SELECT o_orderpriority, COUNT(*) AS n, "
            f"CAST(SUM({cents}) AS BIGINT) AS hdr_cents "
            f"FROM orders o WHERE o_orderstatus = '{p['status']}' "
            f"AND {cents} * {p['factor']} > "
            f"(SELECT SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) "
            f"FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) "
            f"GROUP BY o_orderpriority"
        )
    if "agg_of_agg" in q:
        p = q["agg_of_agg"]
        return (
            f"SELECT c_count, COUNT(*) AS custdist FROM ("
            f"SELECT c_custkey, COUNT(o_orderkey) AS c_count "
            f"FROM customer LEFT JOIN orders "
            f"ON c_custkey = o_custkey AND o_orderpriority = '{p['priority']}' "
            f"GROUP BY c_custkey) t GROUP BY c_count"
        )
    p = q["win_over_agg"]
    direction = "DESC" if p["desc"] else "ASC"
    return (
        f"SELECT o_orderstatus, o_orderpriority, n, grp_cents, "
        f"CAST(RANK() OVER (PARTITION BY o_orderstatus "
        f"ORDER BY grp_cents {direction}, o_orderpriority) AS BIGINT) AS rnk, "
        f"CAST(SUM(grp_cents) OVER (PARTITION BY o_orderstatus) AS BIGINT) "
        f"AS status_cents FROM ("
        f"SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        f"CAST(SUM({cents}) AS BIGINT) AS grp_cents "
        f"FROM orders GROUP BY o_orderstatus, o_orderpriority) g"
    )


@pytest.mark.parametrize("seed", range(30))
def test_random_query8_matches_duckdb(spark, oracle, seed):
    rng = random.Random(19000 + seed)
    q = _gen8(rng)
    assert_matches_oracle(_to_spark8(spark, q), oracle, _to_sql8(q))


# ---- family 9: the dedup parameter space — random shingle width k,
# random corpus subset, and either a containment operating-point sweep
# (random df_cap + random integer-percent thresholds) or thresholded
# exact-Jaccard pairs. The hand-written dedup oracles pin ONE constant
# tuple (k=3, cap=20, t=0.2/0.1); this family re-derives the SAME
# library operators and a parameterized DuckDB twin from arbitrary
# constants, so a latent dependence on the pinned values (a hardcoded
# slice width, an off-by-one in the gram window, a cap boundary) trips
# here even though every fixed-constant test stays green. ----

from sql_cdc_spark.functions import dedup as DD9
from sql_cdc_spark.queries.text_q import _NORM_SQL as _NORM9


def _gen9(rng: random.Random) -> dict:
    mod = rng.choice([1, 2, 3])
    q = {"mod": mod, "rem": rng.randrange(mod)}
    if rng.random() < 0.5:
        q["k"] = rng.choice([2, 3, 4, 5])
        q["sweep"] = {
            "df_cap": rng.choice([3, 5, 10, 20, 40]),
            "pcts": sorted(rng.sample(range(5, 61), rng.randint(1, 4))),
        }
    else:
        # k=2 bigrams are corpus-hot and have no df cap on this path —
        # the pair join would be quadratic in a hot shingle's holders on
        # BOTH engines, so the jaccard branch starts at k=3
        q["k"] = rng.choice([3, 4, 5])
        q["jaccard"] = {"threshold": rng.choice([0.05, 0.1, 0.2, 0.3, 0.5])}
    return q


def _shingled9(spark, q):
    docs = tables.load(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % q["mod"] == q["rem"]
    )
    sh64 = F.conv(
        F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            F.explode(DD9.shingles(F.col("text"), q["k"])).alias("shingle"),
        )
        .select("doc_id", sh64.alias("sh64"))
        .distinct()
    )


def _to_spark9(spark, q):
    sh = _shingled9(spark, q)
    if "sweep" in q:
        return DD9.containment_sweep(
            sh,
            df_cap=q["sweep"]["df_cap"],
            thresholds_pct=tuple(q["sweep"]["pcts"]),
        )
    return DD9.jaccard_pairs(sh, threshold=q["jaccard"]["threshold"]).select(
        "id_a", "id_b", "jaccard"
    )


def _shingles9_sql(q) -> str:
    k = q["k"]
    return rf"""
toks AS (
  SELECT doc_id, string_split_regex({_NORM9}, '\s+') AS t
  FROM documents WHERE doc_id % {q["mod"]} = {q["rem"]}
),
sh_all AS (
  SELECT doc_id,
    unnest(CASE WHEN len(t) >= {k}
           THEN list_transform(range(1, len(t) - {k - 2}), i -> array_to_string(t[i:i+{k - 1}], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingle
  FROM toks
),
shh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS sh64
  FROM sh_all
)"""


def _to_sql9(q) -> str:
    sh = _shingles9_sql(q)
    if "sweep" in q:
        cap = q["sweep"]["df_cap"]
        vals = ", ".join(f"({p})" for p in q["sweep"]["pcts"])
        return f"""
WITH {sh},
hot AS (SELECT sh64 FROM shh GROUP BY sh64 HAVING COUNT(*) > {cap}),
rsh AS (SELECT s.doc_id, s.sh64 FROM shh s ANTI JOIN hot h ON s.sh64 = h.sh64),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM rsh a JOIN rsh b ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
base AS (
  SELECT i.id_a, i.id_b, i.n_inter, LEAST(sa.n_sh, sb.n_sh) AS m
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
),
sw AS (
  SELECT t.pct, b.id_a, b.id_b
  FROM base b CROSS JOIN (VALUES {vals}) t(pct)
  WHERE 100 * b.n_inter >= t.pct * b.m
),
ids AS (SELECT pct, id_a AS d FROM sw UNION ALL SELECT pct, id_b AS d FROM sw)
SELECT pct AS threshold_pct, COUNT(*) // 2 AS n_pairs,
       COUNT(DISTINCT d) AS n_docs
FROM ids GROUP BY pct ORDER BY threshold_pct
"""
    t = q["jaccard"]["threshold"]
    return f"""
WITH {sh},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM shh a JOIN shh b ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
jac AS (
  SELECT i.id_a, i.id_b,
         ROUND(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {t}
"""


@pytest.mark.parametrize("seed", range(20))
def test_random_query9_matches_duckdb(spark, oracle, seed):
    rng = random.Random(21000 + seed)
    q = _gen9(rng)
    assert_matches_oracle(_to_spark9(spark, q), oracle, _to_sql9(q))


# ---- family 10: the BM25 parameter space — random query-term sets
# (mixing rare, common, and ABSENT terms — absent terms must fall out of
# the df join identically on both engines) and random top-k. The
# hand-written oracle pins ONE term tuple; this family re-derives the
# parameterized bm25_search + _bm25_sql from arbitrary terms, so a
# latent dependence on the pinned query (an idf edge at df=0 handled
# one-sidedly, a LIMIT tie broken differently) trips here. ----

from sql_cdc_spark.queries.text_q import _bm25_sql as _bm25_sql10
from sql_cdc_spark.queries.text_q import bm25_search as _bm25_search10

# present-rare, present-common, and absent tokens in the test corpus
_BM25_POOL = [
    "dup", "slow", "spark", "hash", "join", "stream", "vector", "scan",
    "quasar", "zyzzyva",  # absent: df = 0 path
]


def _gen10(rng: random.Random) -> dict:
    return {
        "terms": tuple(
            rng.sample(_BM25_POOL, rng.randint(1, 4))
        ),
        "k": rng.choice([3, 5, 10, 25]),
    }


@pytest.mark.parametrize("seed", range(12))
def test_random_query10_matches_duckdb(spark, oracle, seed):
    rng = random.Random(23000 + seed)
    q = _gen10(rng)
    docs = tables.load(spark, SF_DIR, "documents")
    assert_matches_oracle(
        _bm25_search10(docs, q["terms"], k=q["k"]),
        oracle,
        _bm25_sql10(q["terms"], k=q["k"]),
    )


# ---- family 11: the skew-census percentile space — random key
# distributions (modulus grids, hot-key mixtures, all-unique and
# single-key degenerate corpora) driven through the SAME window-free
# integer percentile core the registered census uses (_skew_report) vs
# the parameterized DuckDB twin. The hand-written oracle pins three
# real keys; this family exercises the cumulative-count boundary
# arithmetic (100·cum ≥ p·K) where an off-by-one survives
# fixed-constant tests: K=1 (every percentile IS the single
# multiplicity), all-unique (every percentile = 1), and two-mass
# mixtures whose p90/p99 straddle the hot key. ----

from sql_cdc_spark.queries.scale_q import _skew_one_sql, _skew_report


def _gen11(rng: random.Random) -> str:
    shape = rng.random()
    if shape < 0.2:
        # modulus grid; m=1 is the single-key degenerate corpus
        m = rng.choice([1, 2, 7, 100, 4999])
        return f"l_orderkey % {m}"
    if shape < 0.4:
        # all-unique: (l_orderkey, l_linenumber) is the lineitem PK
        return "l_orderkey * 8 + l_linenumber"
    if shape < 0.7:
        # hot-key mixture: every h-th part collapses onto one key
        h = rng.choice([2, 10, 50])
        return f"CASE WHEN l_partkey % {h} = 0 THEN -1 ELSE l_partkey END"
    return f"l_suppkey % {rng.randint(2, 500)}"


@pytest.mark.parametrize("seed", range(10))
def test_random_query11_matches_duckdb(spark, oracle, seed):
    rng = random.Random(29000 + seed)
    expr = _gen11(rng)
    li = tables.load(spark, SF_DIR, "lineitem")
    per = (
        li.selectExpr(f"({expr}) AS k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cc = per.groupBy("c").agg(F.count(F.lit(1)).alias("nk"))
    got = _skew_report(cc, "fuzz")
    sql = _skew_one_sql(f"(SELECT ({expr}) AS k FROM lineitem)", "k", rel="fuzz")
    assert_matches_oracle(got, oracle, sql)


# ---- family 12: the blocked-fuzzy-match space — random corpora
# (part / customer / supplier names), random equality-block keys, and
# random thresholds d ∈ 1..5 through the SAME shape as the registered
# rel_fuzzy_match_block: Spark's 3-arg early-exit levenshtein (returns
# -1 past the threshold) vs DuckDB's plain levenshtein + WHERE. The
# hand-written oracle pins (part, (brand, type), d=2); this family is
# aimed at the early-exit/plain parity boundary (a DP cutoff bug shows
# as a pair present on one side only) and at the length-band prune
# (|len(a)−len(b)| ≤ d must never drop an accepted pair — customer
# names are equal-length, part names vary). ----

_F12_CORPORA = {
    "part": ("p_partkey", "p_name", ["p_brand", "p_type"]),
    "customer": ("c_custkey", "c_name", ["c_nationkey"]),
    "supplier": ("s_suppkey", "s_name", ["s_nationkey"]),
}


def _gen12(rng: random.Random) -> dict:
    table = rng.choice(sorted(_F12_CORPORA))
    key, name, blocks = _F12_CORPORA[table]
    n_block = rng.randint(1, len(blocks))
    return {
        "table": table,
        "key": key,
        "name": name,
        "blocks": blocks[:n_block],
        "d": rng.randint(1, 5),
    }


def _fuzzy12(df, q: dict):
    # the REAL registered core, parameterized — the fuzz exercises
    # production code, not a transcription of it
    from sql_cdc_spark.queries.relational_q import fuzzy_match

    return fuzzy_match(
        df,
        key_col=q["key"],
        name_col=q["name"],
        block_cols=tuple(q["blocks"]),
        max_edit=q["d"],
    ).select("key_a", "key_b", "edit_dist")


def _fuzzy12_sql(q: dict) -> str:
    key, name, d = q["key"], q["name"], q["d"]
    on = " AND ".join(f"a.{c} = b.{c}" for c in q["blocks"])
    return f"""
SELECT a.{key} AS key_a, b.{key} AS key_b,
       CAST(levenshtein(a.{name}, b.{name}) AS INTEGER) AS edit_dist
FROM {q["table"]} a JOIN {q["table"]} b
  ON {on} AND a.{key} < b.{key}
WHERE levenshtein(a.{name}, b.{name}) <= {d}
ORDER BY key_a, key_b
"""


@pytest.mark.parametrize("seed", range(10))
def test_random_query12_matches_duckdb(spark, oracle, seed):
    rng = random.Random(31000 + seed)
    q = _gen12(rng)
    df = tables.load(spark, SF_DIR, q["table"])
    assert_matches_oracle(_fuzzy12(df, q), oracle, _fuzzy12_sql(q))


# ---- family 13: the passage-census width space — random tile widths
# 1..12 over a corpus with PLANTED sub-width documents (random docs
# truncated to 0..width-1 words, including fully-emptied text) through
# the SAME passage_census core / _dup_passage_sql twin pair as the
# registered query. This is the regression class of the round-6 review
# finding: Spark's sequence(0, -1) is the DESCENDING [0, -1] while
# DuckDB's generate_series(0, -1) is empty, so any unguarded tiling
# diverges exactly on the planted docs. ----


def _gen13(rng: random.Random) -> dict:
    return {
        "width": rng.randint(1, 12),
        "mod": rng.choice([3, 7, 10]),
        "keep": rng.randint(0, 1),  # truncation keeps 0 or width-1 words
    }


@pytest.mark.parametrize("seed", range(8))
def test_random_query13_matches_duckdb(spark, oracle, seed):
    from sql_cdc_spark.queries.text_q import _dup_passage_sql, passage_census

    rng = random.Random(37000 + seed)
    q = _gen13(rng)
    w, m = q["width"], q["mod"]
    keep_n = 0 if q["keep"] == 0 else max(w - 1, 0)
    norm_spark = (
        "array_join(slice(split(trim(regexp_replace(lower(text), "
        f"'\\\\s+', ' ')), ' '), 1, {keep_n}), ' ')"
    )
    docs = tables.load(spark, SF_DIR, "documents").selectExpr(
        "doc_id",
        "source",
        f"CASE WHEN doc_id % {m} = 0 THEN {norm_spark} ELSE text END AS text",
    )
    norm_duck = (
        r"array_to_string(list_slice(string_split("
        rf"trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), "
        rf"1, {keep_n}), ' ')"
    )
    rel = (
        f"(SELECT doc_id, source, CASE WHEN doc_id % {m} = 0 "
        f"THEN {norm_duck} ELSE text END AS text FROM documents)"
    )
    assert_matches_oracle(
        passage_census(docs, width=w),
        oracle,
        _dup_passage_sql(w, docs_rel=rel),
    )


# ---- family 14: the PMI parameter space — random support floors
# (including 1, where every pair competes and the staged floor-division
# ratio does the ranking alone), random top-k depths, and random corpus
# subsets, through the SAME pmi_collocations core / _pmi_sql twin pair
# as the registered query. Targets the staged-division compounding
# (((n_xy·1e6) div n_x)·N div n_y must floor identically at every
# magnitude) and the (lift, left, right) total-order cut. ----


def _gen14(rng: random.Random) -> dict:
    return {
        "min_support": rng.choice([1, 2, 5, 20, 60]),
        "topk": rng.randint(5, 40),
        "mod": rng.choice([1, 2, 5]),  # 1 = whole corpus
    }


@pytest.mark.parametrize("seed", range(8))
def test_random_query14_matches_duckdb(spark, oracle, seed):
    from sql_cdc_spark.queries.text_q import _pmi_sql, pmi_collocations

    rng = random.Random(41000 + seed)
    q = _gen14(rng)
    docs = tables.load(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % q["mod"] == 0
    )
    rel = f"(SELECT * FROM documents WHERE doc_id % {q['mod']} = 0)"
    assert_matches_oracle(
        pmi_collocations(docs, q["min_support"], q["topk"]),
        oracle,
        _pmi_sql(q["min_support"], q["topk"], docs_rel=rel),
    )


# ---- family 15: the knn/bucket parameter space — random SRP bit widths,
# corpus subsets, and PLANTED twin/clone structure through the SAME
# knn_join_arrow / elect_nearest_arrow core and the parameterized
# _knn_join_sql twin the registered queries use (they pin only the 8-bit
# whole-corpus tuple; the election is the heaviest shared dependency —
# four registered consumers plus the maintained graph state). Targets
# the bucket-width knob (the documented 100 TB scale lever), the
# (cos desc, nn_id asc) bigint argmax encoding under EXACT ties (planted
# twins: cosine is exactly 1.0 in both engines), and the alone-in-bucket
# emit-no-row rule that finer bucketings exercise. ----


def _gen15(rng: random.Random) -> dict:
    return {
        "n_bits": rng.choice([4, 5, 6, 8, 10]),
        "mod": rng.choice([1, 2, 5]),      # corpus subset
        "plant": rng.choice(["none", "twins", "clones"]),
        "pmod": rng.choice([3, 7]),        # which vectors get copies
        "factor": rng.choice([1.01, 0.97]),  # clone perturbation
    }


@pytest.mark.parametrize("seed", range(10))
def test_random_query15_matches_duckdb(spark, oracle, seed):
    from sql_cdc_spark.queries.similarity_q import _knn_join_sql, knn_join_arrow

    rng = random.Random(43000 + seed)
    q = _gen15(rng)
    if seed == 8:
        # the forced MEGA-BUCKET seed (VERDICT r7 #3): hundreds of
        # positively-scaled copies of one vector all land in its SRP
        # bucket, driving the hot-bucket tiling in the Arrow kernel
        q.update(plant="mega", mega_n=350)
    if seed == 9:
        # the forced ZERO-NORM seed (ADVICE r8): a planted all-zeros
        # vector (0/0 cosine) must follow the SENTINEL-0 rule in both
        # the Arrow kernel (non-finite → 0) and the oracle
        # (COALESCE/NULLIF) — instead of DuckDB's bare NaN ordering
        # ABOVE every real cosine in the DESC election
        q.update(plant="zero")
    emb = (
        tables.load(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % q["mod"] == 0)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    rel = (
        "(SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings "
        f"WHERE vec_id % {q['mod']} = 0)"
    )
    if q["plant"] == "mega":
        # positively-scaled copies keep every SRP sign, hence the
        # bucket; factors 1 + i/1000.0 are the same integer-derived
        # IEEE754 doubles on both engines
        src = emb.filter(F.col("vec_id") == 0)
        planted = src.select(
            F.explode(
                F.sequence(F.lit(1), F.lit(q["mega_n"]))
            ).alias("i"),
            "embedding",
        ).select(
            (F.lit(1_000_000) + F.col("i")).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x * (F.lit(1.0) + F.col("i") / F.lit(1000.0)),
            ).alias("embedding"),
        )
        emb = emb.unionByName(planted)
        rel = (
            f"(SELECT * FROM {rel} base UNION ALL "
            f"SELECT 1000000 + gs.i AS vec_id, "
            f"list_transform(embedding, x -> x * (1.0 + gs.i / 1000.0)) "
            f"AS embedding "
            f"FROM {rel} src, UNNEST(generate_series(1, {q['mega_n']})) "
            f"AS gs(i) WHERE src.vec_id = 0)"
        )
    elif q["plant"] == "zero":
        # x * 0.0 is the same ±0.0 on both engines; every SRP dot is
        # 0 (> 0 false) so the zero vector lands in bucket 0 alongside
        # real vectors and pairs with them at sentinel cosine 0
        planted = emb.filter(F.col("vec_id") == 0).select(
            F.lit(1_000_001).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x * F.lit(0.0)
            ).alias("embedding"),
        )
        emb = emb.unionByName(planted)
        rel = (
            f"(SELECT * FROM {rel} base UNION ALL "
            f"SELECT 1000001 AS vec_id, "
            f"list_transform(embedding, x -> x * 0.0) AS embedding "
            f"FROM {rel} src WHERE vec_id = 0)"
        )
    elif q["plant"] != "none":
        # twins are EXACT copies (factor 1.0 — the tie case); clones are
        # the same elementwise IEEE754 double multiplication both engines
        # evaluate from the same literal
        f = 1.0 if q["plant"] == "twins" else q["factor"]
        planted = emb.filter(F.col("vec_id") % q["pmod"] == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x * F.lit(f)
            ).alias("embedding"),
        )
        emb = emb.unionByName(planted)
        rel = (
            f"(SELECT * FROM {rel} base UNION ALL "
            f"SELECT vec_id + 1000000 AS vec_id, "
            f"list_transform(embedding, x -> x * {f}) AS embedding "
            f"FROM {rel} src WHERE vec_id % {q['pmod']} = 0)"
        )
    sql = _knn_join_sql(q["n_bits"], emb_rel=rel)
    assert_matches_oracle(
        knn_join_arrow(emb, n_bits=q["n_bits"]), oracle, sql
    )

# ---- family 16: the SemDeDup election parameter space — random SRP bit
# widths, thresholds, corpus subsets, and planted twin/clone structure
# through the Arrow kernel sim_semantic_dedup elects vs the parameterized
# DuckDB twin (_semantic_dedup_sql defaults render the registered
# oracle byte-for-byte), plus the sweep fold (max_mate_micro_arrow) vs a
# DuckDB per-vector max computed as _semdedup_sweep_sql's pv CTE does


def _max_mate_sql(n_bits: int, emb_rel: str) -> str:
    """Per-vector MAX smaller-id-mate micro-cosine over ``emb_rel`` at
    ``n_bits`` — the pv CTE of _semdedup_sweep_sql, parameterized."""
    from sql_cdc_spark.queries.similarity_q import _lsh_sql

    lsh = _lsh_sql(n_bits, emb_rel).strip()
    v_cte = f"WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM {emb_rel})"
    return f"""
{v_cte},
b AS ({lsh.replace(v_cte, '')} ),
vb AS (SELECT v.vec_id, v.e, b.bucket FROM v JOIN b USING (vec_id))
SELECT a.vec_id,
       MAX(CAST(round(ROUND(COALESCE(list_dot_product(a.e, c.e)
             / NULLIF(sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(c.e, c.e)), 0), 0), 6) * 1000000)
           AS BIGINT)) AS max_cm
FROM vb a JOIN vb c ON a.bucket = c.bucket AND c.vec_id < a.vec_id
GROUP BY a.vec_id
ORDER BY a.vec_id
"""


def _gen16(rng: random.Random) -> dict:
    return {
        "n_bits": rng.choice([4, 5, 6, 8]),
        # ≤6-dp decimals only (the micro-domain threshold contract)
        "threshold": rng.choice([0.15, 0.25, 0.35, 0.45, 0.6]),
        "mod": rng.choice([1, 2, 5]),
        "plant": rng.choice(["none", "twins", "clones"]),
        "pmod": rng.choice([3, 7]),
        "factor": rng.choice([1.01, 0.97]),
    }


@pytest.mark.parametrize("seed", range(8))
def test_random_query16_matches_duckdb(spark, oracle, seed):
    from sql_cdc_spark.queries.similarity_q import (
        _semantic_dedup_sql,
        bucket_vectors,
        elect_dropped_arrow,
        max_mate_micro_arrow,
    )

    rng = random.Random(44000 + seed)
    q = _gen16(rng)
    emb = (
        tables.load(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % q["mod"] == 0)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    rel = (
        "(SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings "
        f"WHERE vec_id % {q['mod']} = 0)"
    )
    if q["plant"] != "none":
        f = 1.0 if q["plant"] == "twins" else q["factor"]
        planted = emb.filter(F.col("vec_id") % q["pmod"] == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x * F.lit(f)
            ).alias("embedding"),
        )
        emb = emb.unionByName(planted)
        rel = (
            f"(SELECT * FROM {rel} base UNION ALL "
            f"SELECT vec_id + 1000000 AS vec_id, "
            f"list_transform(embedding, x -> x * {f}) AS embedding "
            f"FROM {rel} src WHERE vec_id % {q['pmod']} = 0)"
        )
    vb = bucket_vectors(emb, q["n_bits"])
    sql = _semantic_dedup_sql(q["n_bits"], emb_rel=rel, threshold=q["threshold"])
    assert_matches_oracle(
        elect_dropped_arrow(vb, threshold=q["threshold"]).orderBy("vec_id"),
        oracle,
        sql,
    )
    # the sweep fold: in-kernel per-vector max mate micro-cosine must
    # equal the oracle's per-vector max bit-for-bit on the same bucketing
    kern = sorted(map(tuple, max_mate_micro_arrow(vb).collect()))
    duck = oracle.execute(_max_mate_sql(q["n_bits"], rel)).fetchall()
    assert kern == duck and kern
