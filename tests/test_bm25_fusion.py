"""BM25 + fusion unit tests: hand-computed toy cases (FIXTURES.md §8)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.operators.bm25 import B, K1, BM25Index
from next_plaid_spark.operators.fusion import fuse_relative_score, fuse_rrf

LIST_SCHEMA = "query_id long, doc_id long, score double"


def test_bm25_hand_computed(spark):
    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry"), (2, "durian")],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs)
    assert idx.n_docs == 3 and math.isclose(idx.avgdl, 2.0)
    res = idx.search(
        spark.createDataFrame([(0, "apple")], "query_id long, text string"), k=3
    ).collect()
    # only doc 0 contains 'apple': tf=2, df=1, dl=3
    assert len(res) == 1 and res[0].doc_id == 0
    idf = math.log(1.0 + (3 - 1 + 0.5) / (1 + 0.5))
    sat = 2 * (K1 + 1) / (2 + K1 * (1 - B + B * 3 / 2.0))
    assert math.isclose(res[0].score, round(idf * sat, 6), rel_tol=1e-9)


@pytest.fixture()
def toy_lists(spark):
    sem = spark.createDataFrame(
        [(0, 10, 5.0), (0, 11, 4.0), (0, 12, 3.0)], LIST_SCHEMA
    )
    kw = spark.createDataFrame(
        [(0, 11, 9.0), (0, 13, 6.0)], LIST_SCHEMA
    )
    return sem, kw


def test_rrf_hand_computed(spark, toy_lists):
    sem, kw = toy_lists
    got = {r.doc_id: r.score for r in fuse_rrf(sem, kw, alpha=0.75, k=10).collect()}
    # sem ranks: 10→1, 11→2, 12→3 ; kw ranks: 11→1, 13→2
    exp = {
        10: 0.75 / 61,
        11: 0.75 / 62 + 0.25 / 61,
        12: 0.75 / 63,
        13: 0.25 / 62,
    }
    assert set(got) == set(exp)
    for d in exp:
        assert math.isclose(got[d], exp[d], rel_tol=1e-12), d


def test_relative_score_hand_computed(spark, toy_lists):
    sem, kw = toy_lists
    got = {
        r.doc_id: r.score
        for r in fuse_relative_score(sem, kw, alpha=0.75, k=10).collect()
    }
    # sem minmax: 10→1.0, 11→0.5, 12→0.0 ; kw minmax: 11→1.0, 13→0.0
    exp = {10: 0.75, 11: 0.75 * 0.5 + 0.25, 12: 0.0, 13: 0.0}
    assert set(got) == set(exp)
    for d in exp:
        assert math.isclose(got[d], exp[d], rel_tol=1e-12), d


def test_relative_score_constant_list_normalizes_to_one(spark):
    sem = spark.createDataFrame([(0, 1, 2.0), (0, 2, 2.0)], LIST_SCHEMA)
    kw = spark.createDataFrame([(0, 3, 1.0)], LIST_SCHEMA)
    got = {r.doc_id: r.score for r in fuse_relative_score(sem, kw, k=10).collect()}
    # constant sem list → both docs norm 1.0 (text_search.rs:1042-1057)
    assert math.isclose(got[1], 0.75) and math.isclose(got[2], 0.75)
    assert math.isclose(got[3], 0.25)


def test_bm25_filtered_subset(spark):
    docs = spark.createDataFrame(
        [(0, "apple pie"), (1, "apple tart"), (2, "apple cake")],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs)
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    subset = spark.createDataFrame([(1,), (2,)], "doc_id long")
    res = idx.search(q, k=10, subset=subset).collect()
    assert {r.doc_id for r in res} == {1, 2}


def test_hybrid_degrades_to_surviving_side(spark):
    """K8 (handlers/search.rs:345-375): a query missing its keyword list
    gets its raw semantic ranking truncated to k — and vice versa."""
    from next_plaid_spark.operators.fusion import fuse_relative_score, hybrid_search

    sem = spark.createDataFrame(
        [(1, 10, 3.0), (1, 11, 2.0), (1, 12, 1.0),
         (2, 20, 9.0), (2, 21, 5.0), (2, 22, 4.0)],
        "query_id long, doc_id long, score double",
    )
    kw = spark.createDataFrame(
        [(1, 11, 7.0), (1, 13, 6.0),
         (3, 30, 2.5), (3, 31, 1.5)],
        "query_id long, doc_id long, score double",
    )
    got = hybrid_search(sem, kw, mode="relative_score", alpha=0.75, k=2)
    rows = {q: [] for q in (1, 2, 3)}
    for r in got.orderBy("query_id", "rank").collect():
        rows[r.query_id].append((r.doc_id, r.score, r.rank))

    # query 1: both sides present → identical to plain fusion
    fused_q1 = [
        (r.doc_id, r.score, r.rank)
        for r in fuse_relative_score(
            sem.filter("query_id = 1"), kw.filter("query_id = 1"), alpha=0.75, k=2
        ).orderBy("rank").collect()
    ]
    assert rows[1] == fused_q1
    # query 2: keyword side empty → raw semantic scores, top-2
    assert rows[2] == [(20, 9.0, 1), (21, 5.0, 2)]
    # query 3: semantic side empty → raw keyword scores, top-2
    assert rows[3] == [(30, 2.5, 1), (31, 1.5, 2)]


def test_hybrid_both_sides_matches_plain_fusion(spark):
    """With every query on both sides, hybrid_search == fuse_* exactly
    (the oracle-parity invariant for the shipped hybrid entries)."""
    from next_plaid_spark.operators.fusion import fuse_rrf, hybrid_search

    sem = spark.createDataFrame(
        [(q, d, float(10 - d + q)) for q in (1, 2) for d in range(5)],
        "query_id long, doc_id long, score double",
    )
    kw = spark.createDataFrame(
        [(q, d, float(d * 2 + q)) for q in (1, 2) for d in range(2, 7)],
        "query_id long, doc_id long, score double",
    )
    a = sorted(
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in hybrid_search(sem, kw, mode="rrf", alpha=0.6, k=3).collect()
    )
    b = sorted(
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in fuse_rrf(sem, kw, alpha=0.6, k=3).collect()
    )
    assert a == b


# -- FTS5-parity scoring + conjunctive (AND) query form ------------------------


def test_bm25_fts5_idf_and_floor(spark):
    # common term "banana" (df=2 of 3): fts5 idf = ln((3-2+.5)/(2+.5)) < 0
    # → floored to 1e-6; rare term "apple" (df=1): ln(2.5/1.5) > 0 kept
    docs = spark.createDataFrame(
        [(0, "apple banana"), (1, "banana cherry"), (2, "durian")],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs)
    res = {r.doc_id: r.score for r in idx.search(
        spark.createDataFrame([(0, "banana")], "query_id long, text string"),
        k=3, score_mode="fts5",
    ).collect()}
    for d in (0, 1):
        sat = 1 * (K1 + 1) / (1 + K1 * (1 - B + B * 2 / 5 * 3))  # dl=2, avgdl=5/3
        assert res[d] == round(1e-6 * sat, 6)
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    apple = idx.search(q, k=3, score_mode="fts5").collect()[0]
    assert apple.score > 0.1  # real idf, not the floor


def test_bm25_conjunctive_requires_all_terms(spark):
    docs = spark.createDataFrame(
        [(0, "apple banana cherry"), (1, "apple banana"), (2, "apple")],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs)
    q = spark.createDataFrame(
        [(0, "apple banana"), (1, "apple zzz_missing")],
        "query_id long, text string",
    )
    rows = idx.search(q, k=5, conjunctive=True).collect()
    got = {(r.query_id, r.doc_id) for r in rows}
    # q0: docs 0,1 contain BOTH; doc 2 lacks banana. q1: zzz_missing is in
    # no doc → AND matches nothing (FTS5 missing-term semantics)
    assert got == {(0, 0), (0, 1)}
    # disjunctive form matches doc 2 and q1's apple docs
    got_or = {(r.query_id, r.doc_id) for r in idx.search(q, k=5).collect()}
    assert (0, 2) in got_or and (1, 0) in got_or


def test_phrase_requires_adjacency(spark):
    """FTS5 quoted-phrase semantics: "quick brown" matches consecutive
    tokens only; intervening tokens break the phrase; phrases AND with
    loose terms (operators/bm25.py::search_phrases)."""
    from next_plaid_spark.operators.bm25 import BM25Index

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),
            (1, "quick red brown fox naps"),       # split phrase -> no match
            (2, "a quick brown dog and a quick brown cat"),  # tf = 2
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs, with_positions=True)
    q = spark.createDataFrame(
        [(0, '"quick brown"')], "query_id long, text string"
    )
    got = {r.doc_id: r for r in idx.search_phrases(q, k=10).collect()}
    assert set(got) == {0, 2}
    # doc 2 has two phrase occurrences -> higher tf saturation, and is
    # shorter-normalized comparably; just assert both score > 0
    assert all(r.score > 0 for r in got.values())

    # phrase AND loose term: "quick brown" fox -> only doc 0 has both
    q2 = spark.createDataFrame(
        [(0, '"quick brown" fox')], "query_id long, text string"
    )
    got2 = {r.doc_id for r in idx.search_phrases(q2, k=10).collect()}
    assert got2 == {0}

    # absent phrase kills the conjunctive query entirely
    q3 = spark.createDataFrame(
        [(0, '"brown quick" fox')], "query_id long, text string"
    )
    assert idx.search_phrases(q3, k=10).count() == 0


def test_phrase_repeated_term(spark):
    """A phrase with a repeated token ("ha ha") must anchor both offsets:
    'ha ha' matches, 'ha x ha' does not; overlapping occurrences count."""
    from next_plaid_spark.operators.bm25 import BM25Index

    docs = spark.createDataFrame(
        [(0, "ha ha ha"), (1, "ha x ha"), (2, "totally different")],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs, with_positions=True)
    q = spark.createDataFrame([(0, '"ha ha"')], "query_id long, text string")
    got = {r.doc_id for r in idx.search_phrases(q, k=10).collect()}
    assert got == {0}


def test_phrase_needs_positions(spark):
    import pytest as _pytest

    from next_plaid_spark.operators.bm25 import BM25Index

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    idx = BM25Index.build(docs)  # no positions
    q = spark.createDataFrame([(0, '"a b"')], "query_id long, text string")
    with _pytest.raises(ValueError):
        idx.search_phrases(q)


def test_near_group_gating(spark):
    """NEAR(a b, N): both member phrases must occur within N tokens; the
    members still score as ordinary phrase units; the group ANDs with the
    rest of the query (FTS5 NEAR, default N=10)."""
    from next_plaid_spark.operators.bm25 import BM25Index

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),                       # gap 0 (adjacent)
            (1, "alpha x y z beta end"),                   # gap 3
            (2, "alpha " + "f " * 15 + "beta"),            # gap 15 > 10
            (3, "alpha only here"),                        # missing beta
        ],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs, with_positions=True)

    q = spark.createDataFrame(
        [(0, "NEAR(alpha beta, 10)")], "query_id long, text string"
    )
    got = {r.doc_id for r in idx.search_phrases(q, k=10).collect()}
    assert got == {0, 1}  # doc 2 too far apart, doc 3 missing a member

    # explicit tight window
    q2 = spark.createDataFrame(
        [(0, "NEAR(alpha beta, 1)")], "query_id long, text string"
    )
    got2 = {r.doc_id for r in idx.search_phrases(q2, k=10).collect()}
    assert got2 == {0}

    # NEAR group ANDs with a loose term outside it
    q3 = spark.createDataFrame(
        [(0, "NEAR(alpha beta, 10) end")], "query_id long, text string"
    )
    got3 = {r.doc_id for r in idx.search_phrases(q3, k=10).collect()}
    assert got3 == {1}

    # quoted member phrase inside NEAR
    q4 = spark.createDataFrame(
        [(0, 'NEAR("x y" beta, 2)')], "query_id long, text string"
    )
    got4 = {r.doc_id for r in idx.search_phrases(q4, k=10).collect()}
    assert got4 == {1}

    # 3-member group: every PAIR must be within N (FTS5 semantics)
    q5 = spark.createDataFrame(
        [(0, "NEAR(alpha beta gamma, 4)")], "query_id long, text string"
    )
    got5 = {r.doc_id for r in idx.search_phrases(q5, k=10).collect()}
    assert got5 == {0}  # doc 1 lacks gamma; doc 0 all-adjacent

    # mixed batch: a NEAR query and a plain-phrase query together
    q6 = spark.createDataFrame(
        [(0, "NEAR(alpha beta, 1)"), (1, '"alpha only"')],
        "query_id long, text string",
    )
    by_q = {}
    for r in idx.search_phrases(q6, k=10).collect():
        by_q.setdefault(r.query_id, set()).add(r.doc_id)
    assert by_q == {0: {0}, 1: {3}}


def test_phrase_search_matches_python_reference(spark):
    """Randomized cross-check of search_phrases against an independent
    pure-Python implementation of the documented spec (fts5 idf floor,
    phrase tf/df units, implicit AND, (score desc, doc asc) ranking) —
    one Spark job per seed over a whole query batch."""
    import math
    import re as _re

    import numpy as np

    from next_plaid_spark.operators.bm25 import B, K1, BM25Index

    def tok(s):
        return [t for t in _re.split(r"[^a-z0-9]+", s.lower()) if t]

    def ref(docs, queries, k):
        toks = {d: tok(t) for d, t in docs}
        dls = {d: len(ts) for d, ts in toks.items()}
        n = len(docs)
        avgdl = sum(dls.values()) / n

        def occurrences(ts, phrase):
            m = len(phrase)
            return sum(
                1 for s in range(len(ts) - m + 1) if ts[s:s + m] == phrase
            )

        out = {}
        for qid, qtext in queries:
            phrases = [tok(p) for p in _re.findall(r'"([^"]+)"', qtext)]
            phrases += [[w] for w in tok(_re.sub(r'"[^"]*"', " ", qtext))]
            phrases = [p for p in phrases if p]
            scored = []
            for d, ts in toks.items():
                tfs = [occurrences(ts, p) for p in phrases]
                if not phrases or any(t == 0 for t in tfs):
                    continue
                contribs = []
                for p, tf in zip(phrases, tfs):
                    df = sum(
                        1 for ts2 in toks.values() if occurrences(ts2, p)
                    )
                    idf = math.log((n - df + 0.5) / (df + 0.5))
                    if idf <= 0.0:
                        idf = 1e-6
                    sat = (tf * (K1 + 1.0)) / (
                        tf + K1 * (1.0 - B + B * dls[d] / avgdl))
                    contribs.append(idf * sat)
                score = round(sum(sorted(contribs)), 6)
                scored.append((d, score))
            scored.sort(key=lambda x: (-x[1], x[0]))
            out[qid] = [(d, s) for d, s in scored[:k]]
        return out

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        vocab = ["ape", "bat", "cow", "dog", "eel"]
        docs = [
            (d, " ".join(rng.choice(vocab, size=rng.integers(1, 9))))
            for d in range(25)
        ]
        queries = []
        for qid in range(8):
            n_ph = rng.integers(1, 3)
            parts = []
            for _ in range(n_ph):
                ln = int(rng.integers(1, 3))
                words = " ".join(rng.choice(vocab, size=ln))
                parts.append(f'"{words}"' if ln > 1 or rng.random() < 0.5
                             else words)
            queries.append((qid, " ".join(parts)))

        idx = BM25Index.build(
            spark.createDataFrame(docs, "doc_id long, text string"),
            with_positions=True,
        )
        got = {}
        res = idx.search_phrases(
            spark.createDataFrame(queries, "query_id long, text string"),
            k=10,
        ).collect()
        for r in sorted(res, key=lambda r: (r.query_id, r.rank)):
            got.setdefault(r.query_id, []).append((r.doc_id, r.score))
        want = ref(docs, queries, 10)
        want = {q: v for q, v in want.items() if v}
        assert got == want, f"seed {seed}"


def test_near_matches_sqlite_fts5(spark):
    """NEAR parity against REAL SQLite FTS5 (the engine the reference's
    text_search.rs:1246+ hands raw MATCH strings to): randomized corpora ×
    multi-group / multi-member / multi-length NEAR queries — the matched
    doc SET must agree exactly with fts5's."""
    import random
    import sqlite3

    from next_plaid_spark.operators.bm25 import BM25Index

    try:
        sqlite3.connect(":memory:").execute(
            "CREATE VIRTUAL TABLE _probe USING fts5(c)")
    except sqlite3.OperationalError:
        import pytest as _pytest

        _pytest.skip("sqlite3 without FTS5")

    rng = random.Random(77)
    vocab = ["alpha", "beta", "gamma", "delta", "pad"]
    docs_py = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))
        for _ in range(40)
    ]
    queries_py = [
        "NEAR(alpha beta, 2)",
        "NEAR(alpha beta gamma, 3)",
        "NEAR(alpha beta, 1) NEAR(gamma delta, 2)",
        'NEAR("alpha beta" gamma, 2)',
        "NEAR(alpha beta gamma delta, 6)",
        "NEAR(alpha beta)",          # default N=10
        "NEAR(alpha, 0) delta",      # single-member group + loose term
        # a quoted phrase whose TEXT contains 'NEAR(' is a phrase, not a
        # group (fts5 parses quotes first) — must match nothing here, not
        # degrade to 'docs with alpha AND beta'
        '"alpha NEAR(beta, 1)"',
        'gamma "delta NEAR(alpha beta, 5)"',
        '"alpha beta" NEAR(gamma delta, 3)',  # quote then real group
    ]

    con = sqlite3.connect(":memory:")
    con.execute("CREATE VIRTUAL TABLE ft USING fts5(c)")
    for d in docs_py:
        con.execute("INSERT INTO ft VALUES (?)", (d,))
    want = {
        qi: {int(r[0]) - 1 for r in con.execute(
            "SELECT rowid FROM ft WHERE ft MATCH ?", (q,))}
        for qi, q in enumerate(queries_py)
    }

    idx = BM25Index.build(
        spark.createDataFrame(list(enumerate(docs_py)),
                              "doc_id long, text string"),
        with_positions=True,
    )
    qdf = spark.createDataFrame(list(enumerate(queries_py)),
                                "query_id long, text string")
    got: dict = {qi: set() for qi in range(len(queries_py))}
    for r in idx.search_phrases(qdf, k=100).collect():
        got[r.query_id].add(r.doc_id)
    assert got == want


def test_lowercase_near_is_loose_terms(spark):
    """Documented divergence (bm25.py::search_phrases): FTS5 rejects
    lowercase 'near(a b, 2)' as a syntax error; we lean lenient and score
    its words as ordinary loose terms — pinned here so the behavior is a
    contract, not an accident."""
    from next_plaid_spark.operators.bm25 import BM25Index

    docs = [
        "alpha beta gamma",      # all terms incl. 'near'-free
        "alpha near beta 2",     # contains the literal word 'near'
        "delta only",
    ]
    idx = BM25Index.build(
        spark.createDataFrame(list(enumerate(docs)),
                              "doc_id long, text string"),
        with_positions=True,
    )
    qdf = spark.createDataFrame([(0, "near(alpha beta, 2)")],
                                "query_id long, text string")
    got = {r.doc_id for r in idx.search_phrases(qdf, k=10).collect()}
    # loose-term AND over {near, alpha, beta, 2}: only doc 1 has them all
    assert got == {1}


def test_term_stats_roundtrip_and_search_parity(spark, tmp_path):
    """Stored per-term df (the FTS5-stats analog): save/load carries
    term_stats, and a loaded index (df from term_stats) scores exactly as
    the built one."""
    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry apple"),
         (2, "durian banana"), (3, "cherry cherry")],
        "doc_id long, text string",
    )
    idx = BM25Index.build(docs)
    stats = {r.term: r.df for r in idx.term_stats.collect()}
    assert stats == {"apple": 2, "banana": 3, "cherry": 2, "durian": 1}

    path = str(tmp_path / "bm25")
    idx.save(path)
    loaded = BM25Index.load(spark, path)
    assert {r.term: r.df for r in loaded.term_stats.collect()} == stats

    q = spark.createDataFrame(
        [(0, "apple cherry"), (1, "banana")], "query_id long, text string")
    def rows(df):
        return sorted((r.query_id, r.doc_id, r.score, r.rank)
                      for r in df.collect())

    assert rows(loaded.search(q, k=4)) == rows(idx.search(q, k=4))


def test_loaded_index_term_pushdown(spark, tmp_path):
    """A LOADED index's scans are pruned to the query vocabulary: the
    collected query terms become a literal In(term, ...) filter that
    reaches the parquet scans of postings (keyword) and positions
    (phrase), where the term-sorted save layout lets row-group min/max
    stats skip everything else. Results must be identical to the
    in-session (unpruned) index."""
    docs = spark.createDataFrame(
        [(0, "apple banana apple pie"), (1, "banana cherry apple"),
         (2, "durian banana split"), (3, "cherry pie crust")],
        "doc_id long, text string",
    )
    built = BM25Index.build(docs, with_positions=True)
    path = str(tmp_path / "bm25pd")
    built.save(path)
    loaded = BM25Index.load(spark, path)

    q = spark.createDataFrame([(0, "apple pie")], "query_id long, text string")
    kw = loaded.search(q, k=4)
    plan = kw._jdf.queryExecution().executedPlan().toString()
    assert "In(term, [apple,pie])" in plan, plan
    ph = loaded.search_phrases(q, k=4)
    pplan = ph._jdf.queryExecution().executedPlan().toString()
    assert "In(term, [apple,pie])" in pplan, pplan

    key = lambda r: (r.query_id, r.doc_id, r.score, r.rank)
    assert sorted(map(key, kw.collect())) == \
        sorted(map(key, built.search(q, k=4).collect()))
    assert sorted(map(key, ph.collect())) == \
        sorted(map(key, built.search_phrases(q, k=4).collect()))
