"""Connected-component dup-cluster resolution tests."""

from __future__ import annotations

import random
import warnings

import pytest

from sslr_spark.functions.dedup import dup_clusters_star


def _union_find(edges):
    """Reference labels: plain-Python union-find over the pairs,
    every node labelled with its component's smallest id (the
    smaller root always wins a union, so each root is that id)."""
    parent = {}

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
    return sorted((v, find(v)) for v in list(parent))


def test_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.cluster_id) for r in dup_clusters_star(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


@pytest.mark.slow
def test_long_chain_converges(spark):
    n = 18
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = dict(
        (r.doc_id, r.cluster_id) for r in dup_clusters_star(pairs).collect()
    )
    assert all(v == 0 for v in got.values())
    assert len(got) == n + 1


def test_keeper_is_min_id(spark):
    pairs = spark.createDataFrame([(7, 3), (3, 9)], "doc_a long, doc_b long")
    got = dict(
        (r.doc_id, r.cluster_id) for r in dup_clusters_star(pairs).collect()
    )
    assert got == {3: 3, 7: 3, 9: 3}


@pytest.mark.slow
def test_star_equals_propagation(spark):
    """large-star/small-star yields exactly the same clusters as the
    union-find reference on random trees joined by extra cycles."""
    rng = random.Random(7)
    edges = set()
    # several components: a clique, a chain, a star, random trees
    for base in (0, 100, 200, 300):
        nodes = list(range(base, base + 20))
        for i in range(1, 20):
            edges.add((nodes[rng.randrange(i)], nodes[i]))
    edges.add((0, 5))  # extra cycles
    edges.add((101, 115))
    pairs = spark.createDataFrame(
        sorted(edges), "doc_a long, doc_b long"
    )
    got = sorted(map(tuple, dup_clusters_star(pairs).collect()))
    assert got == _union_find(edges)


def _random_edges():
    rng = random.Random(7)
    return [(rng.randint(1, 150), rng.randint(1, 150)) for _ in range(250)]


# (edges, id type) — self-loops, isolated pairs, duplicate and
# reversed edges, string ids
STAR_GRAPHS = {
    "chain": ([(i, i + 1) for i in range(1, 30)], "long"),
    "star_min_centered": ([(1, i) for i in range(2, 20)], "long"),
    "star_max_centered": ([(i, 100) for i in range(2, 20)], "long"),
    "self_loop": ([(5, 5), (5, 6)], "long"),
    "self_loop_only_node": ([(9, 9), (1, 2), (2, 3), (3, 4)], "long"),
    "multi_component": (
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], "long"
    ),
    "dup_and_reversed_edges": (
        [(2, 1), (1, 2), (3, 2), (2, 3), (7, 9)], "long"
    ),
    "random_graph": (_random_edges(), "long"),
    "string_ids": ([("a", "b"), ("b", "c"), ("x", "y")], "string"),
}


@pytest.mark.parametrize("name", sorted(STAR_GRAPHS))
def test_star_equals_reference(spark, name):
    """dup_clusters_star labels every node exactly as the union-find
    reference does — including a node whose only edge is a
    self-loop."""
    edges, id_type = STAR_GRAPHS[name]
    pairs = spark.createDataFrame(
        edges, f"doc_a {id_type}, doc_b {id_type}"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # must converge
        got = sorted(map(tuple, dup_clusters_star(pairs).collect()))
    assert got == _union_find(edges)
    assert {doc for doc, _ in got} == {v for e in edges for v in e}


def test_star_handles_deep_chain_in_few_rounds(spark):
    """A 120-node chain: min-label propagation would need 120
    iterations; star converges logarithmically and labels the whole
    chain with its minimum."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    out = dup_clusters_star(pairs).collect()
    assert len(out) == 121
    assert all(r.cluster_id == 0 for r in out)


def test_cc_rounds_free_superseded_landings(spark):
    """Each round frees the round it superseded: after a multi-round
    run only the landings the labels read stay stored (the symmetrized
    input and the final round), and release_caches() frees those
    too."""
    from sslr_spark.functions.dedup import release_caches

    def stored():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    release_caches()
    before = stored()
    assert len(dup_clusters_star(pairs).collect()) == 13
    assert len(stored() - before) == 2
    release_caches()
    assert not stored() - before


def test_star_1k_chain_logarithmic_round_bound(spark):
    """Property pinning the O(log n) recurrence itself: a 1000-edge
    chain (1001 nodes, diameter 1000) must converge within
    ceil(log2(n)) + 2 = 12 star rounds — if the alternating
    large/small-star contraction ever regressed toward per-hop
    propagation, this chain would need ~1000 rounds and the warning
    below would fire."""
    import math

    n = 1001
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    budget = math.ceil(math.log2(n)) + 2
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # non-convergence warns
        out = dup_clusters_star(pairs, max_rounds=budget).collect()
    assert len(out) == n
    assert all(r.cluster_id == 0 for r in out)


def test_star_zero_rounds_warns_not_crashes(spark):
    """max_rounds=0 runs no round: the operator warns that it did not
    stabilize and still returns one label per node."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    with pytest.warns(RuntimeWarning, match="did not stabilize"):
        out = dup_clusters_star(pairs, max_rounds=0).collect()
    assert sorted(r.doc_id for r in out) == [1, 2, 3]


def test_cluster_keep_best_prefers_score_then_min_id(spark):
    from pyspark.sql import functions as F

    from sslr_spark.functions.dedup import cluster_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)],
        "doc_id long, n_chars long",
    )
    got = {
        (r.cluster_id, r.n_members, r.keep_id)
        for r in cluster_keep_best(clusters, docs, F.col("n_chars")).collect()
    }
    # cluster 1: docs 2 and 3 tie on score 9 -> smallest id 2 wins;
    # cluster 10: tie on 4 -> doc 10.
    assert got == {(1, 3, 2), (10, 2, 10)}


def test_cluster_keep_best_is_hash_agg_not_window(spark):
    from pyspark.sql import functions as F

    from sslr_spark.functions.dedup import cluster_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [(1, 5), (2, 9)], "doc_id long, n_chars long"
    )
    plan = (
        cluster_keep_best(clusters, docs, F.col("n_chars"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan  # no whole-cluster sort in one task
    # min(struct) plans as a two-level SortAggregate: partial map-side
    # combine, then final after the cluster_id shuffle.
    assert "partial_min" in plan


def test_cluster_keep_best_null_scores_lose(spark):
    from pyspark.sql import functions as F

    from sslr_spark.functions.dedup import cluster_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "doc_id long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [(1, None), (2, 7), (3, None), (4, None)],
        "doc_id long, n_chars long",
    )
    got = {
        (r.cluster_id, r.keep_id)
        for r in cluster_keep_best(clusters, docs, F.col("n_chars")).collect()
    }
    # cluster 1: doc 2 has the only non-null score -> wins over doc 1;
    # cluster 3: all null -> falls back to min id 3
    assert got == {(1, 2), (3, 3)}
