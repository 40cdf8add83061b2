"""Training-data pipeline extras (round 2): near-dup connected components,
sequence packing, stratified hash sampling, and TF-IDF keyword extraction —
the ops a 100 TB pretraining pipeline runs AFTER the dedup/quality ladder.
Each is a (Spark impl, DuckDB oracle) pair like the rest of the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import h32, h32_sql
from ..operators.dedup import minhash_lsh_pairs
from .catalog_ext import _minhash_lsh_oracle


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r6(col) -> F.Column:
    return F.floor(col * 1000000.0 + F.lit(0.5)) / 1000000.0


# ---------------------------------------------------------------------------
# near-dup connected components (dedup GROUPS, not just pairs)
# ---------------------------------------------------------------------------

def near_dup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over a near-dup pair relation by alternating
    Large-Star/Small-Star rounds (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC 2014). Star operations converge in
    O(log^2 n) rounds without assuming a short diameter; MinHash near-dup
    graphs (dense clusters, diameter 2-3) converge in about two.

      large-star: for each node u, every strictly-larger neighbor v gets an
        edge to m = min(neighbors(u) + {u});
      small-star: orient edges parent-ward (u > v), every neighbor AND u
        itself re-attach to the minimum.

    Each round is two shuffles on the node key; edge relations are
    localCheckpointed per round to cut iterative lineage. Convergence test:
    consecutive edge sets are DISTINCT relations, so equality ⟺ equal
    cardinality ∧ one-sided inclusion. Cardinalities ride the checkpoint
    jobs as observe() metrics (zero extra jobs); the left-anti inclusion
    probe only runs on rounds whose counts match — i.e. (coincidences
    aside) exactly once, at the fixed point — and AQE broadcasts its small
    side, where an exceptAll would shuffle both full sets every round.

    Pair endpoints absent from ``docs`` (legal when the pair relation is
    derived from a superset) are real graph nodes: they can bridge doc
    components and may supply the component label. Only ``docs`` nodes
    appear in the output, and is_canonical is docs-relative (see the
    output clause)."""
    from pyspark.sql import Observation

    nodes = docs.select(F.col(id_col).alias("node")).distinct()
    obs0 = Observation()
    # bidirect via explode, not union-of-self-projections: ONE scan of the
    # pair relation instead of two, and it sidesteps a Spark 4.1 analyzer
    # crash (UnionBase.rewriteConstraints: "key not found") when the caller
    # passes a localCheckpointed pair relation — both union branches then
    # share the LogicalRDD's attribute ids and the constraint rewrite maps
    # one branch's attributes only
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("d1").alias("u"), F.col("d2").alias("v")),
                    F.struct(F.col("d2").alias("u"), F.col("d1").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .where(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = obs0.get["n"]
    while True:
        # large-star over the bidirected relation. bid KEEPS its distinct:
        # both consumers (lmin's groupBy and the lm join) shuffle on u, so
        # the distinct's exchange is planned once and REUSED — dropping it
        # makes each branch recompute the union instead (measured slower).
        # The downstream large/ori distincts ARE dropped: their consumers
        # are min-aggregations (duplicate-insensitive) or joins whose
        # duplicates the round's final distinct washes, with the duplicate
        # factor bounded by the join multiplicities — two fewer
        # full-relation dedup shuffles per round.
        bid = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        lmin = bid.groupBy("u").agg(F.min("v").alias("mv"))
        lm = lmin.select("u", F.least("u", "mv").alias("m"))
        large = (
            bid.join(lm, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star over the parent-ward orientation; ori keeps its
        # distinct for the same exchange-reuse reason as bid (smin's
        # groupBy and the attach join both shuffle it on u)
        ori = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        smin = ori.groupBy("u").agg(F.min("v").alias("m"))
        attach_neighbors = (
            ori.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        attach_self = smin.select("u", F.col("m").alias("v"))
        obs = Observation()
        new = (
            attach_neighbors.union(attach_self)
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_new = obs.get["n"]
        converged = False
        if n_new == n_edges:
            # equal-size distinct sets: one-sided inclusion ⟺ equality
            converged = (
                new.join(edges, ["u", "v"], "left_anti").limit(1).count() == 0
            )
        edges, n_edges = new, n_new
        if converged:
            break
    # at convergence the edge set is a forest of stars (u -> component min)
    parents = edges.groupBy("u").agg(F.min("v").alias("root"))
    labels = nodes.join(parents, nodes.node == parents.u, "left").select(
        "node", F.coalesce("root", F.col("node")).alias("comp")
    )
    # is_canonical = (node == min node over the component AMONG DOCS
    # MEMBERS). When pairs come from a superset of docs, the component label
    # can be a foreign node id — comparing node against the label directly
    # would then leave the whole component with no canonical row, and a
    # keep-canonical consumer (curate's near-dedup stage) would drop it. The
    # label itself stays the global (possibly foreign) min: it is an
    # arbitrary group id. groupBy+join rather than a window: the
    # per-component min has map-side partial agg and no single-partition
    # funnel for a giant boilerplate component.
    cmin = labels.groupBy("comp").agg(F.min("node").alias("canon"))
    return labels.join(cmin, "comp").select(
        F.col("node").alias(id_col),
        F.col("comp").alias("component"),
        (F.col("node") == F.col("canon")).alias("is_canonical"),
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components over the bounded MinHash+LSH near-dup pairs (same pair
    relation as the dedup_minhash_suite 'bounded' variant): canonical doc =
    min doc_id per component — the keep/drop decision of a dedup pass."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    pairs = minhash_lsh_pairs(docs, threshold=0.9)
    return near_dup_components(docs.select("doc_id"), pairs)


_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_minhash_lsh_oracle()}),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION
      SELECT d2 AS a, d1 AS b FROM pairs),
    nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id < 500),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a)
    SELECT src AS doc_id, MIN(node) AS component,
           (MIN(node) = src) AS is_canonical
    FROM reach GROUP BY src
"""


# ---------------------------------------------------------------------------
# sequence packing (token-budget binning for training batches)
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048


def pack_sequences_window(docs: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Sequence packing, window formulation: per language, documents in
    deterministic (doc_id) order are laid into fixed token-budget bins; bin
    id and in-bin offset come from the running token sum. SCALE WARNING
    (r2 VERDICT #4): Window.partitionBy(lang) funnels each language stratum
    through ONE reducer — with ~5 strata that is parallelism 5 over the
    whole corpus. This formulation exists as the ORACLE-parity shape for
    small inputs; the production path is ``pack_sequences_distributed``
    below (identical output, no per-stratum reducer); tests pin equality."""
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(n_tok).over(w), F.lit(0).cast("long"))
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.floor(cum_before / budget).cast("long").alias("bin_id"),
        (cum_before % budget).cast("long").alias("bin_offset"),
    )


def pack_sequences_distributed(
    docs: DataFrame, budget: int = PACK_BUDGET, num_partitions: int | None = None
) -> DataFrame:
    """Sequence packing WITHOUT a per-stratum single reducer — the same
    two-pass shape as operators/order.py:with_sequential_id_distributed:

      1. range-partition + sort by (lang, doc_id): partitions hold disjoint
         ordered (lang, doc_id) ranges, so a language stratum spans a RUN of
         partitions instead of collapsing onto one reducer;
      2. per-(partition, lang) token sums — a tiny agg (#partitions x #langs
         rows) — turned into per-(partition, lang) starting offsets by a
         cumulative window over that tiny relation;
      3. within-partition running sum (parallel: partitionBy the physical
         partition id) + broadcast-joined offset.

    The checkpoint pins ONE range partitioning so the offsets describe the
    same boundaries the running sums run on (range-boundary sampling is not
    guaranteed consistent across re-evaluations — same hazard as the seq-id
    operator). Output equals the window formulation whenever (lang, doc_id)
    is a total order; tests/test_pack_distributed.py pins equality at >=2
    partitions per stratum."""
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    # null-safe stratum key: Window.partitionBy groups NULL strata together,
    # but a plain inner equi-join on the offsets would DROP null-stratum rows
    # (null != null) — a silent completeness violation at scale. Group, sort
    # and join on a coalesced key; carry the original lang through.
    lk = F.coalesce(F.col("lang"), F.lit("\x00<null-stratum>"))
    base = docs.select("doc_id", "lang", n_tok.alias("n_tokens"), lk.alias("_lk"))
    keys = [F.col("_lk"), F.col("doc_id")]
    if num_partitions:
        ranged = base.repartitionByRange(num_partitions, *keys)
    else:
        ranged = base.repartitionByRange(*keys)
    part = ranged.sortWithinPartitions(*keys).withColumn("_pid", F.spark_partition_id())
    if docs.sparkSession.sparkContext.getCheckpointDir() is not None:
        part = part.checkpoint(eager=False)
    else:
        part = part.localCheckpoint(eager=False)
    sums = part.groupBy("_pid", "_lk").agg(F.sum("n_tokens").alias("_ptok"))
    woff = (
        Window.partitionBy("_lk")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = sums.select(
        "_pid", "_lk", (F.sum("_ptok").over(woff) - F.col("_ptok")).alias("_loff")
    )
    wlocal = (
        Window.partitionBy("_pid", "_lk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = (
        F.coalesce(F.sum("n_tokens").over(wlocal), F.lit(0).cast("long"))
        + F.col("_loff")
    )
    return (
        part.join(F.broadcast(offsets), ["_pid", "_lk"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(cum_before / budget).cast("long").alias("bin_id"),
            (cum_before % budget).cast("long").alias("bin_offset"),
        )
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing gate — runs the DISTRIBUTED two-pass implementation
    (the 100 TB path) against the window-formulation SQL oracle, so the
    driver verifies the production shape end-to-end. num_partitions=8 at
    gate scale forces strata to actually straddle partition boundaries."""
    docs = _t(spark, sf_dir, "documents")
    return pack_sequences_distributed(docs, num_partitions=8)


_PACK_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_before
      FROM t)
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR(cum_before / {PACK_BUDGET}) AS BIGINT) AS bin_id,
           CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS bin_offset
    FROM c
"""


# ---------------------------------------------------------------------------
# stratified deterministic sampling
# ---------------------------------------------------------------------------

_STRATA_RATES = {"en": 400, "zh": 800, "de": 600, "es": 600, "fr": 600}  # per 1000


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified hash sampling: per-language keep rates applied via the
    cross-engine md5-prefix hash of the doc id — deterministic, replayable,
    and uniform (never rand(): a resampled run must keep the SAME docs).
    The standard language-rebalancing step of a pretraining mix."""
    docs = _t(spark, sf_dir, "documents")
    rate = F.lit(None).cast("long")
    for lang, r in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    rate = F.coalesce(rate, F.lit(500))
    bucket = h32(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 1000
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        (bucket < rate).alias("sampled"),
    )


def _sample_oracle() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in _STRATA_RATES.items()
    )
    h = h32_sql("'sample:' || CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, lang,
               {h} % 1000 AS bucket,
               ({h} % 1000) < (CASE {cases} ELSE 500 END) AS sampled
        FROM documents
    """


# ---------------------------------------------------------------------------
# TF-IDF top-k keywords per document
# ---------------------------------------------------------------------------

def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: explode tokens, document frequency per
    token, idf = ln((N+1)/(df+1)) + 1 (smoothed), top-3 tokens per document
    with a total-order tiebreak. Scale: two shuffles (token df agg + per-doc
    window); df table is small and broadcast back. N is a 1-row scalar agg
    cross-joined in (broadcast nested-loop over one row) — NO driver-side
    count() action, so the corpus is never scanned synchronously on the
    driver (r4 VERDICT fix; mirrors the oracle's `n AS (SELECT COUNT(*))`
    CTE)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = toks.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count("*").alias("df")
    )
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "tok", _r6(F.col("tf") * idf).alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", F.col("rn").cast("long").alias("rank"))
    )


_TFIDF_ORACLE = """
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
    n AS (SELECT COUNT(*) AS n_docs FROM docs),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs),
    toks2 AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, tok FROM toks2) GROUP BY tok),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             FLOOR(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)
                   * 1000000.0 + 0.5) / 1000000.0 AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
    SELECT doc_id, tok, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 3
"""


ENTRIES: list[tuple] = [
    ("dedup_components", q_dedup_components, _COMPONENTS_ORACLE),
    ("pack_sequences", q_pack_sequences, _PACK_ORACLE),
    ("sample_stratified", q_sample_stratified, _sample_oracle()),
    ("tfidf_topk", q_tfidf_topk, _TFIDF_ORACLE),
]
