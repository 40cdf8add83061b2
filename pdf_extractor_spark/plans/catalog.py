"""Operator catalog: every SURVEY.md §2 operator (+ training-data pipeline
ops) as a (PySpark impl, DuckDB oracle SQL) pair for the driver's correctness
gate.

Conventions (driver compares row-count + schema + order-insensitive value
hash, columns sorted by name):
  - every computed column aliased IDENTICALLY in both tiers;
  - float aggregates rounded (FP association order differs across engines);
  - Spark ints widened to long where DuckDB returns BIGINT (count, row_number);
  - timestamps/dates rendered to strings with matching format patterns;
  - deterministic tiebreakers on every top-k / limit.

Scale notes are attached per query: each Spark plan is written for the
1000-executor / 100TB case (broadcast hints on dims, partial aggs, no
collect), even though the gate runs at sf=0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col) -> F.Column:
    """Exact money: floor(x*100+0.5) per row BEFORE the sum, so aggregates are
    integer-exact and order-independent — cross-engine FP association noise
    (and HALF_UP-vs-HALF_EVEN rounding) is designed out of the gate."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def _round6(col) -> F.Column:
    """Deterministic 6-dp rounding identical across engines:
    floor(x*1e6+0.5)/1e6 (same double ops in both tiers)."""
    return F.floor(col * 1000000.0 + F.lit(0.5)) / 1000000.0


# ---------------------------------------------------------------------------
# §2.3 projections / filters / predicates
# ---------------------------------------------------------------------------

def q_p3_keyword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 keyword exclude filter (utils/utils.py:53-70): drop rows whose text
    contains any exclude keyword. Scale: predicate is a single compiled rlike,
    pushed into the scan stage (no shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.where(~F.lower(F.col("text")).rlike("batch|stream")).select(
        "doc_id", "source", "n_chars"
    )


def q_p4_amount_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 threshold filter (utils/utils.py:73-81). Pushed to parquet scan."""
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 150000.0)
        .select("o_orderkey", (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / 100.0).alias("total_price"))
    )


def q_p5_validity_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 validity predicate + quarantine reason (transaction_normalizer.py:41-65):
    one pass produces both branches; here the flag + reason columns."""
    ev = _t(spark, sf_dir, "events")
    valid = F.col("value").isNotNull() & (F.col("value") >= 0)
    return ev.select(
        "event_id",
        valid.alias("valid"),
        F.when(F.col("value").isNull(), F.lit("null_value"))
        .when(F.col("value") < 0, F.lit("negative_value"))
        .otherwise(F.lit(None).cast("string"))
        .alias("problem_reason"),
    )


def q_p6_boilerplate_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 footer/boilerplate suppression (first_republic_bank_parser.py:392-466):
    term-list drop as a single predicate."""
    docs = _t(spark, sf_dir, "documents")
    return docs.where(
        ~(F.col("text").contains("batch") | F.col("text").contains("stream"))
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# §2.4 regex / scalar rules
# ---------------------------------------------------------------------------

def q_r13_description_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13+R14 chained regexp_replace (transaction_normalizer.py:381-407) —
    native-expression tier (whole-stage codegen, no Python)."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = F.col("text")
    for pat in (r"POS\s+DEBIT\s+\d+", r"ACH\s+DEBIT\s+\d+", r"REF\s*\d+"):
        cleaned = F.regexp_replace(cleaned, pat, "")
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return docs.select("doc_id", cleaned.alias("clean_text"))


def q_r14_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokens) — text-analysis primitive."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


def q_r19_row_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R19 deterministic row id: sha2(concat_ws('|',...)) (normalize_api.py:21-33).
    Byte-equal across engines (lowercase hex both sides)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.sha2(
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_returnflag"),
            ),
            256,
        ).alias("row_hash")
    )


def q_r21_sequential_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R21/W5 sequential id over an EXPLICIT total order
    (transaction_normalizer.py:309; reference relied on concat order).
    Scale note: single-window is the parity formulation; the 100TB path is
    per-partition counts + offsets (see operators/order.py docstring)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    return orders.select(
        F.row_number().over(w).cast("long").alias("seq_id"), "o_orderkey"
    )


def q_r5_sign_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 sign normalization as a native when-chain
    (data_transformation.py:31-83): charge-keyword rows negative, credit-keyword
    rows positive — applied to events (event_type plays transaction_type)."""
    ev = _t(spark, sf_dir, "events")
    amt = F.floor(F.col("value") * 100 + F.lit(0.5)) / 100.0
    ttype = F.lower(F.col("event_type"))
    charge = ttype.rlike("error|purchase")
    credit = ttype.rlike("signup|login")
    normalized = (
        F.when(charge & (amt > 0), -amt)
        .when(credit & (amt < 0), -amt)
        .otherwise(amt)
    )
    return ev.select("event_id", normalized.alias("signed_amount"))


def q_r7_date_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 multi-format coalescing date parse (normalize_api.py:188-215):
    render o_orderdate into 3 formats by key, then recover via try-parse
    ladder; output ISO string."""
    orders = _t(spark, sf_dir, "orders")
    raw = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .otherwise(F.date_format("o_orderdate", "dd.MM.yyyy"))
    )
    parsed = F.coalesce(
        F.try_to_timestamp(raw, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(raw, F.lit("MM/dd/yyyy")),
        F.try_to_timestamp(raw, F.lit("dd.MM.yyyy")),
    )
    return orders.select(
        "o_orderkey", F.date_format(parsed, "yyyy-MM-dd").alias("iso_date")
    )


# ---------------------------------------------------------------------------
# §2.5 joins / §2.8 top-k
# ---------------------------------------------------------------------------

def q_j1_exact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 exact-key lookup join (organizer_extractor.py:540-601) with the
    small side BROADCAST (customer->nation->region dims); left outer keeps
    unmatched like the reference."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey, "left")
    )
    return (
        cust.join(dims, cust.c_nationkey == dims.n_nationkey, "left")
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_customers"))
    )


def q_j4_first_match_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/S5 first-match dispatch as an ordered when-chain (registry.py:22-36):
    chain order IS registration order."""
    docs = _t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    doctype = (
        F.when(low.contains("window"), F.lit("windowed"))
        .when(low.contains("join"), F.lit("join_doc"))
        .when(low.contains("stream"), F.lit("stream_doc"))
        .otherwise(F.lit("unknown"))
    )
    return docs.select("doc_id", doctype.alias("doctype"))


def q_o3_top1_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 per-key argmax (organizer_extractor.py:628-631): top order per
    customer by totalprice, deterministic tiebreak on orderkey."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / 100.0).alias("top_price"))
    )


# ---------------------------------------------------------------------------
# §2.6 aggregations / §2.9 set ops
# ---------------------------------------------------------------------------

def q_a1_union_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 union-all consolidation with carried source column
    (transaction_normalizer.py:306; consolidation avoids joins by carrying
    source on every row)."""
    orders = _t(spark, sf_dir, "orders")
    hi = orders.where(F.col("o_totalprice") >= 200000).withColumn(
        "source", F.lit("high")
    )
    lo = orders.where(F.col("o_totalprice") < 50000).withColumn("source", F.lit("low"))
    return (
        hi.unionByName(lo)
        .groupBy("source", "o_orderstatus")
        .agg(F.count("*").alias("n_rows"))
    )


def q_a2_counts_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 value_counts per source (transaction_normalizer.py:348-352) —
    map-side partial agg then final (two-phase, shuffle only the group keys)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))


def q_a3_group_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 per-group totals Σ price*qty (amazon_parser.py:331-336 / R17)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
        .alias("order_revenue"),
        F.count("*").cast("long").alias("n_items"),
    )


def q_a4_minmax_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 min/max dates per group -> statement period analog
    (wellsfargo_checking_csv_parser.py:121-128)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("period_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("period_end"),
        F.count("*").alias("n_events"),
    )


def q_a5_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 exact dedup via content hash (normalize_api.py:104-105 +
    dropDuplicates): keep min doc_id per text hash. Scale: hash-groupBy is the
    canonical exact-dedup at 100TB (shuffle on 32-byte keys, partial agg)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2(F.col("text"), 256).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count")
    )


def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical partial-agg benchmark
    (also bench.py headline q1)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")).alias("sum_qty"),
            (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("sum_base_price"),
            (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
            .alias("sum_disc_price"),
            (
                F.sum(F.floor(F.col("l_discount") * 1000000 + F.lit(0.5)).cast("long"))
                / (F.count("*") * 1000000.0)
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join: dims broadcast down the chain, one shuffle
    for the final group-by; supplier and customer must share a nation."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey)
    )
    c = cust.join(dims, cust.c_nationkey == dims.n_nationkey).select(
        "c_custkey", "n_nationkey", "n_name"
    )
    o = orders.join(F.broadcast(c), orders.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "n_nationkey", "n_name"
    )
    s = supp.select("s_suppkey", F.col("s_nationkey"))
    j = (
        li.join(F.broadcast(o), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .where(F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy("n_name").agg(
        (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
        .alias("revenue")
    )


def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style filter-aggregate: every predicate pushed to the scan,
    single partial+final agg, no join."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0)
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


def q_w7_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function sweep: rank / dense_rank / ntile over per-customer
    order amounts with deterministic tiebreaks."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style join: dims broadcast, fact shuffled once; deterministic
    top-10 with orderkey tiebreak."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.7 window analogs
# ---------------------------------------------------------------------------

def _event_window() -> Window:
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def q_w6_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (stream-analysis analog of W3): new session
    when gap > 1h; session id = cumulative sum of boundary flags."""
    ev = _t(spark, sf_dir, "events")
    w = _event_window()
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch, 1).over(w)
    is_new = F.when(gap.isNull() | (gap > 3600), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(is_new).over(wsum).cast("long").alias("session_id"),
    )


# ---------------------------------------------------------------------------
# §2.10 incremental / resume
# ---------------------------------------------------------------------------

def q_st1_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 idempotent resume: anti-join pending work against completed
    partitions (scripts/grok.py:335-375 generalized). Completed = users who
    ever signed up; pending = their absent complement."""
    ev = _t(spark, sf_dir, "events")
    done = ev.where(F.col("event_type") == "signup").select("user_id").distinct()
    return ev.join(done, "user_id", "left_anti").select("event_id", "user_id")


# ---------------------------------------------------------------------------
# training-data ops: text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to")


def q_text_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID-style stopword-ratio heuristic, all native exprs
    (higher-order filter over the token array, no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    return docs.select(
        "doc_id",
        _round6(stop.cast("double") / F.size(toks)).alias("stopword_ratio"),
    )


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length + mean word length + stopword ratio combined,
    deterministic formula (training-data filtering primitive)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    mean_wl = F.length("text").cast("double") / n_toks
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast(
        "double"
    ) / n_toks
    score = (
        F.least(n_toks.cast("double") / F.lit(64.0), F.lit(1.0)) * 0.5
        + F.least(mean_wl / F.lit(8.0), F.lit(1.0)) * 0.3
        + (1.0 - F.least(stop_ratio * 4.0, F.lit(1.0))) * 0.2
    )
    return docs.select("doc_id", _round6(score).alias("quality_score"))


def q_dedup_unigram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup detection (token-set variant): explode distinct
    tokens, self-join on token within lang, Jaccard >= 0.9 pairs.
    Scale: the join key is (lang, token) — bounded fanout per token; the
    MinHash/LSH variant (operators/dedup.py) replaces the quadratic core at
    100TB; this exact version doubles as its verifier on samples."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n_tok").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n_tok").alias("n2"))
    jac = (
        inter.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .select(
            "d1",
            "d2",
            (
                F.floor(
                    F.col("n_inter").cast("double")
                    / (F.col("n1") + F.col("n2") - F.col("n_inter"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= 0.9)


def q_sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: 20 query vectors x corpus,
    native zip_with/aggregate dot product (JVM-side, no UDF), per-query top-3
    with id tiebreak. Scale: query side broadcast; corpus scan stays
    partition-parallel; the LSH-bucketed variant (operators/similarity.py)
    cuts the candidate set at 100TB."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    qv = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    pairs = emb.crossJoin(F.broadcast(qv)).where(F.col("vec_id") != F.col("query_id"))
    dot = F.aggregate(
        F.zip_with("e", "qe", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot / (norm(F.col("e")) * norm(F.col("qe")))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            (F.floor(F.col("cos") * 10000 + F.lit(0.5)) / 10000.0).alias("cosine"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (composed into the driver registry by plans/suites.py)
# ---------------------------------------------------------------------------

_STOP_SQL = "('the','a','of','and','to')"

_ORACLES: dict[str, str] = {
    "p3_keyword_filter": """
        SELECT doc_id, source, n_chars FROM documents
        WHERE NOT regexp_matches(lower(text), 'batch|stream')
    """,
    "p4_amount_threshold": """
        SELECT o_orderkey, FLOOR(o_totalprice * 100 + 0.5) / 100.0 AS total_price
        FROM orders WHERE o_totalprice >= 150000.0
    """,
    "p5_validity_quarantine": """
        SELECT event_id,
               (value IS NOT NULL AND value >= 0) AS valid,
               CASE WHEN value IS NULL THEN 'null_value'
                    WHEN value < 0 THEN 'negative_value'
                    ELSE NULL END AS problem_reason
        FROM events
    """,
    "p6_boilerplate_suppression": """
        SELECT doc_id, lang FROM documents
        WHERE NOT (text LIKE '%batch%' OR text LIKE '%stream%')
    """,
    "r13_description_cleanup": r"""
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text, 'POS\s+DEBIT\s+\d+', '', 'g'),
                           'ACH\s+DEBIT\s+\d+', '', 'g'),
                       'REF\s*\d+', '', 'g'),
                   '\s+', ' ', 'g')) AS clean_text
        FROM documents
    """,
    "r14_token_count": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_computed
        FROM documents
    """,
    "r19_row_hash": """
        SELECT sha256(concat_ws('|', CAST(l_orderkey AS VARCHAR),
                                  CAST(l_linenumber AS VARCHAR),
                                  l_returnflag)) AS row_hash
        FROM lineitem
    """,
    "r21_sequential_id": """
        SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS seq_id,
               o_orderkey
        FROM orders
    """,
    "r5_sign_normalization": """
        WITH t AS (SELECT event_id, FLOOR(value * 100 + 0.5) / 100.0 AS amt,
                          lower(event_type) AS ttype FROM events)
        SELECT event_id,
               CASE
                   WHEN regexp_matches(ttype, 'error|purchase') AND amt > 0 THEN -amt
                   WHEN regexp_matches(ttype, 'signup|login') AND amt < 0 THEN -amt
                   ELSE amt END AS signed_amount
        FROM t
    """,
    "r7_date_ladder": """
        WITH raw AS (
          SELECT o_orderkey,
                 CASE o_orderkey % 3
                   WHEN 0 THEN strftime(o_orderdate, '%m/%d/%Y')
                   WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                   ELSE strftime(o_orderdate, '%d.%m.%Y') END AS s
          FROM orders)
        SELECT o_orderkey,
               strftime(COALESCE(try_strptime(s, '%Y-%m-%d'),
                                 try_strptime(s, '%m/%d/%Y'),
                                 try_strptime(s, '%d.%m.%Y')),
                        '%Y-%m-%d') AS iso_date
        FROM raw
    """,
    "j1_exact_join": """
        SELECT n_name, r_name, COUNT(*) AS n_customers
        FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name
    """,
    "j4_first_match_dispatch": """
        SELECT doc_id,
               CASE WHEN lower(text) LIKE '%window%' THEN 'windowed'
                    WHEN lower(text) LIKE '%join%' THEN 'join_doc'
                    WHEN lower(text) LIKE '%stream%' THEN 'stream_doc'
                    ELSE 'unknown' END AS doctype
        FROM documents
    """,
    "o3_top1_per_key": """
        SELECT o_custkey, o_orderkey, FLOOR(o_totalprice * 100 + 0.5) / 100.0 AS top_price
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
    """,
    "a1_union_consolidation": """
        WITH u AS (
          SELECT 'high' AS source, o_orderstatus FROM orders WHERE o_totalprice >= 200000
          UNION ALL
          SELECT 'low' AS source, o_orderstatus FROM orders WHERE o_totalprice < 50000)
        SELECT source, o_orderstatus, COUNT(*) AS n_rows FROM u
        GROUP BY source, o_orderstatus
    """,
    "a2_counts_per_source": """
        SELECT source, lang, COUNT(*) AS n_docs FROM documents GROUP BY source, lang
    """,
    "a3_group_totals": """
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0
                 AS order_revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem GROUP BY l_orderkey
    """,
    "a4_minmax_dates": """
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS period_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS period_end,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id
    """,
    "a5_dedup_exact": """
        SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY sha256(text)
    """,
    "tpch_q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_base_price,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0
                 AS sum_disc_price,
               SUM(CAST(FLOOR(l_discount * 1000000 + 0.5) AS BIGINT)) / (COUNT(*) * 1000000.0)
                 AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q5_local_supplier": """
        SELECT n_name,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0
                 AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "tpch_q6_forecast": """
        SELECT SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) / 100.0
                 AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "w7_ranking_suite": """
        SELECT o_custkey, o_orderkey,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile
        FROM orders
        WHERE o_custkey < 500
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "tpch_q3_shipping": """
        SELECT o_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0
                 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    "st1_resume_antijoin": """
        SELECT event_id, user_id FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM events s
                          WHERE s.event_type = 'signup' AND s.user_id = e.user_id)
    """,
    "text_stopword_ratio": f"""
        SELECT doc_id,
               ROUND(CAST(len(list_filter(string_split(text, ' '),
                                          x -> x IN {_STOP_SQL})) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS stopword_ratio
        FROM documents
    """,
    "text_quality_score": f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(list_filter(string_split(text, ' '),
                                      x -> x IN {_STOP_SQL})) AS DOUBLE) AS n_stop
          FROM documents)
        SELECT doc_id,
               FLOOR((LEAST(n_toks / 64.0, 1.0) * 0.5
                      + LEAST((n_chars / n_toks) / 8.0, 1.0) * 0.3
                      + (1.0 - LEAST((n_stop / n_toks) * 4.0, 1.0)) * 0.2)
                     * 1000000.0 + 0.5) / 1000000.0 AS quality_score
        FROM t
    """,
    "dedup_unigram_jaccard": """
        WITH toks AS (
          SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents WHERE doc_id < 300),
        sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
          FROM toks a JOIN toks b
            ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT d1, d2,
               FLOOR(CAST(n_inter AS DOUBLE) / (s1.n_tok + s2.n_tok - n_inter)
                     * 10000 + 0.5) / 10000.0 AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE CAST(n_inter AS DOUBLE) / (s1.n_tok + s2.n_tok - n_inter) >= 0.9
    """,
    "sim_bruteforce_topk": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 20),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_dot_product(e.emb, q.qe)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(q.qe, q.qe))) AS cos
          FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, FLOOR(cos * 10000 + 0.5) / 10000.0 AS cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS BIGINT)
                 AS rank
        FROM scored
        QUALIFY rank <= 3
    """,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-ordered registry (suites.py): SURVEY §2 + LLM-pipeline ops
    first so they all land inside the driver's ~50-entry verify window."""
    from . import suites

    return suites.registry()[0]


def oracle_sql() -> dict[str, str]:
    from . import suites

    return suites.registry()[1]
