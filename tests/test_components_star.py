"""Large-Star/Small-Star connected components (``near_dup_components``)
checked against a plain-Python union-find on the real near-dup pair
relation, plus adversarial long-chain, random and disjoint-cluster graphs
where star convergence (O(log^2 n) rounds) is the point."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_extractor_spark.plans.llm_extras import near_dup_components

SF_DIR = "/root/testdata/sf0.01"


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "d1 long, d2 long")


def _docs(spark, n):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def _union_find(nodes, edges) -> set[tuple[int, int]]:
    """Independent oracle: {(node, min node of its component)} over
    ``nodes``, with every edge endpoint a graph node."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(i, find(i)) for i in nodes}


def test_components_match_union_find_on_long_chain(spark):
    """Path graph 0-1-2-...-59: diameter 59, the shape that needs
    O(diameter) rounds from label propagation."""
    edges = [(i, i + 1) for i in range(59)]
    got = {(r.doc_id, r.component) for r in
           near_dup_components(_docs(spark, 60), _pairs(spark, edges)).collect()}
    assert got == _union_find(range(60), edges)
    assert got == {(i, 0) for i in range(60)}


def test_star_handles_disjoint_clusters_and_singletons(spark):
    docs = _docs(spark, 12)
    # two clusters {0..3}, {7,8,9} (ring), singletons 4,5,6,10,11
    pairs = _pairs(spark, [(0, 1), (1, 2), (2, 3), (7, 8), (8, 9), (9, 7)])
    got = {(r.doc_id, r.component, r.is_canonical) for r in
           near_dup_components(docs, pairs).collect()}
    want = {(i, 0, i == 0) for i in range(4)}
    want |= {(i, 7, i == 7) for i in (7, 8, 9)}
    want |= {(i, i, True) for i in (4, 5, 6, 10, 11)}
    assert got == want


def test_components_match_union_find_on_real_minhash_pairs(spark):
    from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < 500
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.9)
    edges = [(r.d1, r.d2) for r in pairs.collect()]
    assert edges  # the bounded sf0.01 slice has near-dup pairs to group
    doc_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    got = {(r.doc_id, r.component, r.is_canonical) for r in
           near_dup_components(docs.select("doc_id"), pairs).collect()}
    assert got == {(d, c, d == c) for d, c in _union_find(doc_ids, edges)}


def test_components_match_union_find_on_random_graph(spark):
    """Seeded Erdos-Renyi-ish graph: 300 nodes, ~350 random edges — mixed
    component sizes, cycles, and chains in one relation."""
    import random

    rng = random.Random(1234)
    n = 300
    edges = sorted({
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(350)
    })
    got = {(r.doc_id, r.component) for r in
           near_dup_components(_docs(spark, n), _pairs(spark, edges)).collect()}
    assert got == _union_find(range(n), edges)


def test_components_accept_checkpointed_pairs(spark):
    """Regression (round 4): a localCheckpointed pair relation — the right
    call when pairs come from an expensive MinHash pass — used to crash
    Spark 4.1's analyzer (UnionBase.rewriteConstraints "key not found")
    because both branches of the bidirecting self-union shared the
    LogicalRDD's attribute ids. The explode-based bidirection must keep
    checkpointed input working."""
    docs = _docs(spark, 40)
    pairs = _pairs(spark, [(i, i + 1) for i in range(39)]).localCheckpoint(eager=True)
    out = {(r.doc_id, r.component) for r in near_dup_components(docs, pairs).collect()}
    assert out == {(i, 0) for i in range(40)}


def test_components_empty_input_terminates(spark):
    """Round-4 review fix: an aggregate over zero rows observes NULL, and
    empty input once looped forever. Empty input must return an empty
    labeling immediately."""
    docs = _docs(spark, 0)
    pairs = _pairs(spark, [])
    assert near_dup_components(docs, pairs).count() == 0


def test_components_foreign_endpoint_bridges_but_stays_out(spark):
    """Round-4 review fix: a pair endpoint absent from docs (pairs derived
    from a superset) must BRIDGE doc components — and must not leak into
    the output. docs={1,2}, pairs 1-5-2 with 5 foreign: both docs land in
    ONE component; only 2 output rows."""
    docs = _pairs(spark, [(1, 1), (2, 2)]).select(F.col("d1").alias("doc_id")).distinct()
    pairs = _pairs(spark, [(1, 5), (5, 2)])
    rows = {(r.doc_id, r.component) for r in near_dup_components(docs, pairs).collect()}
    assert rows == {(1, 1), (2, 1)}, rows


def test_components_foreign_min_still_yields_a_canonical_doc(spark):
    """Round-5 review fix: when a FOREIGN endpoint is the component minimum
    (docs={2,3}, pairs 0-2, 0-3 with 0 outside docs), node==component holds
    for NO docs member — a keep-canonical consumer (curate stage 4) would
    silently drop the whole component. is_canonical must be docs-relative:
    exactly one canonical per component, the min AMONG DOCS MEMBERS. The
    component label itself stays the global min (an arbitrary group id)."""
    docs = _pairs(spark, [(2, 2), (3, 3)]).select(F.col("d1").alias("doc_id")).distinct()
    pairs = _pairs(spark, [(0, 2), (0, 3)])
    rows = {(r.doc_id, r.component, r.is_canonical) for r in
            near_dup_components(docs, pairs).collect()}
    assert rows == {(2, 0, True), (3, 0, False)}, rows
