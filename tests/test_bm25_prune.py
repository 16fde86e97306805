"""MaxScore prune (r12): pruned search must be IDENTICAL to exhaustive —
same docs, same rounded scores, same ranks — while actually cutting the
common-term postings out of the aggregation for selective queries.

The prune is opt-in (``prune=True`` or SPARK_GRAFT_BM25_PRUNE=1) and
top-k-preserving by construction: candidates are certified by per-term
upper bounds against a θ that lower-bounds the true k-th score (see
``BM25Index._maxscore_candidates``). These tests pin the parity on a
corpus engineered so the prune ENGAGES (skewed df: a few rare terms, many
flooded ones), on a seeded random corpus, and across the fallback edges
(conjunctive, subset, tiny k/corpus).
"""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.operators.bm25 import BM25Index

DOC_SCHEMA = "doc_id long, text string"
Q_SCHEMA = "query_id long, text string"


def _rows(df):
    return sorted(
        (r.query_id, r.doc_id, r.score, r.rank) for r in df.collect())


@pytest.fixture(scope="module")
def skewed(spark):
    """200 docs flooded with common terms; 3 docs carry a rare term."""
    docs = []
    for i in range(200):
        text = "common1 common2 common3 filler pad"
        if i in (7, 45, 133):
            text += " rareterm special"
        if i % 3 == 0:
            text += " common1 common2"   # tf variety
        docs.append((i, text))
    return BM25Index.build(
        spark.createDataFrame(docs, DOC_SCHEMA))


def test_prune_engages_and_matches_exhaustive(spark, skewed):
    queries = spark.createDataFrame(
        [(0, "rareterm common1 common2 common3"),
         (1, "special filler common2")], Q_SCHEMA)
    base = _rows(skewed.search(queries, k=2, prune=False))
    got = _rows(skewed.search(queries, k=2, prune=True))
    assert got == base
    lp = skewed._last_prune
    assert lp["engaged"] is True
    # the flooded terms were cut for at least one query
    assert any(lp["essential_terms"][q] < lp["total_terms"][q]
               for q in lp["essential_terms"])


def test_prune_matches_on_fts5_mode(spark, skewed):
    queries = spark.createDataFrame(
        [(0, "rareterm common1 common3")], Q_SCHEMA)
    base = _rows(skewed.search(queries, k=3, score_mode="fts5", prune=False))
    got = _rows(skewed.search(queries, k=3, score_mode="fts5", prune=True))
    assert got == base


def test_prune_respects_subset(spark, skewed):
    queries = spark.createDataFrame(
        [(0, "rareterm common1 common2")], Q_SCHEMA)
    subset = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    base = _rows(skewed.search(queries, k=5, subset=subset, prune=False))
    got = _rows(skewed.search(queries, k=5, subset=subset, prune=True))
    assert got == base
    # docs 7 and 45 are inside the subset, 133 outside
    assert {d for _, d, _, _ in got} <= set(range(100))


def test_prune_random_corpus_parity(spark):
    """Seeded zipf-ish corpus, many queries: bit-identical output."""
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(60)]
    weights = [1.0 / (i + 1) for i in range(60)]
    docs = [
        (i, " ".join(rng.choices(vocab, weights=weights,
                                 k=rng.randint(5, 30))))
        for i in range(300)
    ]
    idx = BM25Index.build(spark.createDataFrame(docs, DOC_SCHEMA))
    queries = [
        (q, " ".join(rng.choices(vocab, weights=weights,
                                 k=rng.randint(2, 6))))
        for q in range(15)
    ]
    qdf = spark.createDataFrame(queries, Q_SCHEMA)
    for mode in ("okapi", "fts5"):
        base = _rows(idx.search(qdf, k=10, score_mode=mode, prune=False))
        got = _rows(idx.search(qdf, k=10, score_mode=mode, prune=True))
        assert got == base, mode


def test_conjunctive_falls_back(spark, skewed):
    queries = spark.createDataFrame(
        [(0, "rareterm common1")], Q_SCHEMA)
    base = _rows(skewed.search(queries, k=3, conjunctive=True, prune=False))
    got = _rows(skewed.search(queries, k=3, conjunctive=True, prune=True))
    assert got == base


def test_save_load_carries_max_sat(spark, skewed, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("bm25prune")
    skewed.save(str(tmp / "idx"))
    loaded = BM25Index.load(spark, str(tmp / "idx"))
    assert "max_sat" in loaded.term_stats.columns
    queries = spark.createDataFrame(
        [(0, "rareterm common2 common3")], Q_SCHEMA)
    base = _rows(loaded.search(queries, k=2, prune=False))
    got = _rows(loaded.search(queries, k=2, prune=True))
    assert got == base
    assert loaded._last_prune["engaged"] is True


def test_built_save_derives_max_sat(spark, tmp_path_factory):
    """A built index's term_stats holds df only (max_sat is derived
    lazily); save() must derive max_sat so the loaded store prunes, and
    the bound must equal the lazily-derived in-memory one."""
    tmp = tmp_path_factory.mktemp("bm25prunederive")
    docs = [(i, "common1 common2 filler" + (" rareterm" if i % 9 == 0
                                              else "") + " common1" * (i % 3))
            for i in range(60)]
    built = BM25Index.build(spark.createDataFrame(docs, DOC_SCHEMA))
    assert "max_sat" not in built.term_stats.columns
    built.save(str(tmp / "idx"))
    loaded = BM25Index.load(spark, str(tmp / "idx"))
    assert "max_sat" in loaded.term_stats.columns
    built._ensure_max_sat()
    a = {(r.term, r.df, round(r.max_sat, 12))
         for r in loaded.term_stats.collect()}
    b = {(r.term, r.df, round(r.max_sat, 12))
         for r in built.term_stats.collect()}
    assert a == b


def test_k_exceeds_matches(spark, skewed):
    queries = spark.createDataFrame([(0, "rareterm")], Q_SCHEMA)
    base = _rows(skewed.search(queries, k=50, prune=False))
    got = _rows(skewed.search(queries, k=50, prune=True))
    assert got == base and len(got) == 3


def test_query_cap_falls_back(spark, skewed, monkeypatch):
    """r13: above _PRUNE_QUERY_CAP distinct queries the prune's
    driver-side per-query bookkeeping is skipped (exhaustive fallback),
    mirroring _PRUNE_CAND_CAP on the candidate side. Env override is the
    test seam: cap=2, three queries -> fallback; cap high -> engages."""
    queries = spark.createDataFrame(
        [(0, "rareterm common1 common2"),
         (1, "special common3"),
         (2, "rareterm filler common1")], Q_SCHEMA)
    base = _rows(skewed.search(queries, k=2, prune=False))

    monkeypatch.setenv("SPARK_GRAFT_BM25_PRUNE_QUERY_CAP", "2")
    skewed._last_prune = {"engaged": None}
    got = _rows(skewed.search(queries, k=2, prune=True))
    assert got == base
    assert skewed._last_prune == {"engaged": None}  # prune never ran

    monkeypatch.setenv("SPARK_GRAFT_BM25_PRUNE_QUERY_CAP", "100")
    got = _rows(skewed.search(queries, k=2, prune=True))
    assert got == base
    assert skewed._last_prune["engaged"] is True


def test_save_in_place_is_safe(spark, tmp_path_factory):
    """save() refuses the store a loaded index reads from (its lazy
    frames read those very files): the call raises, and the store still
    loads and serves the same rows. A built index saved OVER an existing
    store swaps it in with no staging or .old debris left behind."""
    import os

    tmp = tmp_path_factory.mktemp("bm25inplace")
    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry apple"),
         (2, "durian banana"), (3, "cherry cherry")], DOC_SCHEMA)
    path = str(tmp / "idx")
    BM25Index.build(docs).save(path)
    q = spark.createDataFrame([(0, "apple cherry")], Q_SCHEMA)

    loaded = BM25Index.load(spark, path)
    base = _rows(loaded.search(q, k=4, prune=False))
    with pytest.raises(ValueError, match="loaded from"):
        loaded.save(path + "/")
    assert _rows(loaded.search(q, k=4, prune=True)) == base
    assert _rows(BM25Index.load(spark, path).search(q, k=4)) == base

    other = spark.createDataFrame(
        [(0, "cherry durian"), (5, "apple apple elder")], DOC_SCHEMA)
    built = BM25Index.build(other)
    want = _rows(built.search(q, k=4))
    built.save(path)
    assert _rows(BM25Index.load(spark, path).search(q, k=4)) == want
    debris = [d for d in os.listdir(tmp)
              if ".tmp-save" in d or ".old-" in d]
    assert debris == []


def test_in_place_resave_instance_stays_usable(spark, tmp_path_factory):
    """A LOADED index asked to re-save onto its own load path refuses
    before touching the store, so the SAME instance keeps working: its
    lazy frames still read intact part files, both search modes return
    the pre-call rows, and no staging or .old debris is left behind."""
    import os

    tmp = tmp_path_factory.mktemp("bm25repoint")
    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry apple"),
         (2, "durian banana"), (3, "cherry cherry")], DOC_SCHEMA)
    BM25Index.build(docs).save(str(tmp / "idx"))

    loaded = BM25Index.load(spark, str(tmp / "idx"))
    q = spark.createDataFrame([(0, "apple cherry")], Q_SCHEMA)
    base = _rows(loaded.search(q, k=4, prune=False))

    with pytest.raises(ValueError, match="loaded from"):
        loaded.save(str(tmp / "idx"))      # in-place re-save is refused
    assert _rows(loaded.search(q, k=4, prune=False)) == base  # still live
    assert _rows(loaded.search(q, k=4, prune=True)) == base
    assert loaded.doclens.count() == 4

    debris = [d for d in os.listdir(tmp)
              if ".tmp-save" in d or ".old-" in d]
    assert debris == []


def test_load_rejects_store_without_term_stats_or_total_dl(
        spark, tmp_path_factory):
    """A store missing term_stats/ or meta total_dl was written by an
    older format; load() asks for a rebuild instead of upgrading it."""
    import json
    import shutil

    tmp = tmp_path_factory.mktemp("bm25oldformat")
    docs = spark.createDataFrame(
        [(0, "apple banana"), (1, "banana cherry")], DOC_SCHEMA)
    no_stats, no_total = str(tmp / "no_stats"), str(tmp / "no_total")
    BM25Index.build(docs).save(no_stats)
    shutil.copytree(no_stats, no_total)
    shutil.rmtree(f"{no_stats}/term_stats")
    with open(f"{no_total}/meta.json") as f:
        meta = json.load(f)
    del meta["total_dl"]
    with open(f"{no_total}/meta.json", "w") as f:
        json.dump(meta, f)
    for path in (no_stats, no_total):
        with pytest.raises(ValueError, match="rebuild"):
            BM25Index.load(spark, path)
