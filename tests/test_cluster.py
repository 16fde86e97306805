"""Connected-components cluster formation (operators/cluster.py):
alternating large-star/small-star must label every node with its
component minimum, for shapes label propagation gets wrong at distance
(chains) and shapes that exercise cycle termination."""

from __future__ import annotations

from pyspark.sql import functions as F

from next_plaid_spark.operators.cluster import (
    connected_components,
    dedup_keep_canonical,
)


def _cc_map(spark, edges):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {r.node: r.rep for r in connected_components(pairs).collect()}


def test_cc_chain(spark):
    # chain 1-2-3-4-5: every node → 1 (transitively; pair lists alone
    # never relate 1 and 5)
    got = _cc_map(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_cycle_and_disjoint(spark):
    # cycle 10-11-12-10, separate pair (20, 21), reversed-order edge (31, 30)
    got = _cc_map(spark, [(10, 11), (11, 12), (12, 10), (20, 21), (31, 30)])
    assert got == {11: 10, 12: 10, 21: 20, 31: 30}


def test_cc_star_and_bridge(spark):
    # star around 7 bridged to a star around 2 through (7, 3)
    got = _cc_map(spark, [(7, 8), (7, 9), (2, 3), (2, 4), (7, 3)])
    assert got == {3: 2, 4: 2, 7: 2, 8: 2, 9: 2}


def test_keep_canonical_singletons_kept(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "doc_a long, doc_b long")
    got = {r.doc_id: (r.cluster_rep, r.kept)
           for r in dedup_keep_canonical(docs, pairs).collect()}
    assert got == {
        0: (0, True), 1: (1, True), 2: (2, True),
        3: (1, False), 4: (4, True), 5: (1, False),
    }
    # collect() order follows the partitioning; the operator promises none
    kept = sorted(d for d, (_, k) in got.items() if k)
    assert kept == [0, 1, 2, 4] and len(kept) == 4


def test_cc_self_and_duplicate_edges(spark):
    got = _cc_map(spark, [(4, 4), (4, 6), (6, 4), (4, 6)])
    assert got == {6: 4}


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_cc_random_graphs_match_union_find(spark):
    """Seeded random graphs (sparse, dense, and skewed-degree) against a
    driver-side union-find oracle."""
    import numpy as np

    rng = np.random.RandomState(7)
    for n_nodes, n_edges in ((30, 15), (40, 80), (25, 200)):
        edges = [
            (int(rng.randint(n_nodes)), int(rng.randint(n_nodes)))
            for _ in range(n_edges)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        want = {
            node: rep for node, rep in _union_find(edges).items() if node != rep
        }
        got = _cc_map(spark, edges)
        assert got == want, f"mismatch for graph ({n_nodes},{n_edges})"


def test_cc_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).collect() == []
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    got = {r.doc_id: (r.cluster_rep, r.kept)
           for r in dedup_keep_canonical(docs, pairs).collect()}
    assert got == {1: (1, True), 2: (2, True)}


def test_leakage_free_split_clusters_stay_together(spark):
    from next_plaid_spark.operators.cluster import leakage_free_split

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # chain 1~2~3 plus pair 10~11: each cluster must land whole
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    rows = leakage_free_split(docs, pairs, splits).collect()
    by_id = {r.doc_id: r for r in rows}
    assert len(rows) == 200
    assert len({by_id[i].split for i in (1, 2, 3)}) == 1
    assert by_id[10].split == by_id[11].split
    assert all(by_id[i].cluster_rep == 1 for i in (1, 2, 3))
    # rates roughly honored over the singletons
    from collections import Counter
    c = Counter(r.split for r in rows)
    assert c["train"] > c["val"] and c["train"] > c["test"]
    # deterministic under re-run / repartition
    again = leakage_free_split(docs.repartition(7), pairs, splits).collect()
    assert sorted((r.doc_id, r.split) for r in again) == sorted(
        (r.doc_id, r.split) for r in rows)


def test_leakage_free_split_bad_rates(spark):
    import pytest

    from next_plaid_spark.operators.cluster import leakage_free_split

    docs = spark.createDataFrame([(1,)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    with pytest.raises(ValueError):
        leakage_free_split(docs, pairs, [("train", 0.5)])
