"""MaxSim relational pipeline vs NumPy reference; hand-computed toy case.

Toy case mirrors the reference's own unit test structure
(next-plaid/src/search.rs:680-743): known vectors, hand-computed score.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from next_plaid_spark.encoding import encode_documents, encode_queries
from next_plaid_spark.operators.maxsim import (
    brute_force_search,
    maxsim_scores_relational,
)

TOKEN_SCHEMA = "doc_id long, token_idx int, token string, vec array<double>"
QTOKEN_SCHEMA = "query_id long, token_idx int, token string, vec array<double>"


def test_maxsim_toy_hand_computed(spark):
    # doc 0: tokens [1,0], [0,1]; query: [0.8,0.6], [1,0]
    # qtok0: max(0.8, 0.6)=0.8 ; qtok1: max(1, 0)=1 ; score=1.8
    dt = spark.createDataFrame(
        [(0, 0, "a", [1.0, 0.0]), (0, 1, "b", [0.0, 1.0])], TOKEN_SCHEMA
    )
    qt = spark.createDataFrame(
        [(7, 0, "q0", [0.8, 0.6]), (7, 1, "q1", [1.0, 0.0])], QTOKEN_SCHEMA
    )
    rows = maxsim_scores_relational(qt, dt).collect()
    assert len(rows) == 1
    assert rows[0].query_id == 7 and rows[0].doc_id == 0
    assert math.isclose(rows[0].score, 1.8, rel_tol=1e-12)


@pytest.fixture(scope="module")
def corpus(spark, documents):
    docs = documents.limit(50).cache()
    dt = encode_documents(docs).cache()
    qt = encode_queries(
        docs.limit(5).select(F.col("doc_id").alias("query_id"), "text")
    ).cache()
    return dt, qt


def _numpy_maxsim(dt_rows, qt_rows):
    docs, queries = {}, {}
    for r in dt_rows:
        docs.setdefault(r.doc_id, []).append((r.token_idx, r.vec))
    for r in qt_rows:
        queries.setdefault(r.query_id, []).append((r.token_idx, r.vec))
    out = {}
    for qid, qtoks in queries.items():
        q = np.array([v for _, v in sorted(qtoks)])
        for did, dtoks in docs.items():
            d = np.array([v for _, v in sorted(dtoks)])
            out[(qid, did)] = float((q @ d.T).max(axis=1).sum())
    return out


def test_maxsim_matches_numpy(spark, corpus):
    dt, qt = corpus
    expected = _numpy_maxsim(dt.collect(), qt.collect())
    got = {
        (r.query_id, r.doc_id): r.score
        for r in maxsim_scores_relational(qt, dt).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert math.isclose(got[k], expected[k], rel_tol=1e-9), k


def test_brute_force_self_retrieval(spark, corpus):
    """A query built from a document's own text must achieve the top score
    (ties possible when another doc contains all query tokens)."""
    dt, qt = corpus
    all_scores = maxsim_scores_relational(qt, dt).collect()
    best = {}
    self_score = {}
    for r in all_scores:
        best[r.query_id] = max(best.get(r.query_id, -1e18), r.score)
        if r.query_id == r.doc_id:
            self_score[r.query_id] = r.score
    for qid, s in self_score.items():
        assert math.isclose(s, best[qid], rel_tol=1e-9), (qid, s, best[qid])
    # and top-1 returns a doc at that best score
    for r in brute_force_search(qt, dt, k=1).collect():
        assert math.isclose(r.score, best[r.query_id], rel_tol=1e-9)


def test_topk_nonfinite_ranks_last(spark):
    """Q13 parity (search.rs:110-117): NaN/±inf/null scores sort below
    every finite score; ties among non-finites break by doc_id."""
    from next_plaid_spark.operators.maxsim import topk

    nan, inf = float("nan"), float("inf")
    scored = spark.createDataFrame(
        [(0, 1, 5.0), (0, 2, nan), (0, 3, 7.0), (0, 4, inf),
         (0, 5, -inf), (0, 6, None), (0, 7, 0.5)],
        "query_id long, doc_id long, score double",
    )
    got = [(r.doc_id, r.rank) for r in topk(scored, 10).orderBy("rank").collect()]
    # finite desc: 3 (7.0), 1 (5.0), 7 (0.5); then non-finite by doc_id: 2, 4, 5, 6
    assert got == [(3, 1), (1, 2), (7, 3), (2, 4), (4, 5), (5, 6), (6, 7)]
    # truncation still works with non-finites present
    top2 = {r.doc_id for r in topk(scored, 2).collect()}
    assert top2 == {3, 1}


def test_brute_kernel_matches_relational_bitwise(spark):
    """The broadcast brute-force kernel must return the exact rows of
    ``topk`` over the relational form (same scores to the bit under the shared fold
    discipline, same (finite, score, doc) rank order)."""
    import numpy as np

    rng = np.random.default_rng(3)
    docs = [
        (d, t, (rng.standard_normal(6) / 3).round(3).tolist())
        for d in range(40) for t in range(rng.integers(1, 6))
    ]
    qs = [
        (qid, t, (rng.standard_normal(6) / 3).round(3).tolist())
        for qid in range(7) for t in range(rng.integers(1, 4))
    ]
    dt = spark.createDataFrame(
        docs, "doc_id long, token_idx int, vec array<double>"
    )
    qt = spark.createDataFrame(
        qs, "query_id long, token_idx int, vec array<double>"
    )
    from next_plaid_spark.operators.maxsim import topk

    kern = sorted(
        tuple(r) for r in
        brute_force_search(qt, dt, k=5).collect()
    )
    rel = sorted(
        tuple(r) for r in
        topk(maxsim_scores_relational(qt, dt), 5).collect()
    )
    assert kern == rel
