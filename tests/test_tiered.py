"""Tiered snapshot stores (sources/tiered.py): the fold rule on its own,
the streaming sinks' generational fold over it, and a crash at the one
hardlink-carry boundary of both doc-ranged writers — the previous
snapshot stays the latest complete one and a re-run equals an uncrashed
run."""

from __future__ import annotations

import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.sources import tiered
from next_plaid_spark.sources.tiered import fold_set


# -- the fold rule (no Spark) ------------------------------------------------

def test_fold_set_zero_mass_folds_only_must_fold():
    assert fold_set({"a": 0, "b": 5}, 0) == set()
    assert fold_set({"a": 1, "b": 5}, 0, lambda k: k == "b") == {"b"}


def test_fold_set_must_fold_adds_no_mass():
    # had "m" added its row to the mass (3), "x" (5 ≤ 6) would fold too
    assert fold_set({"m": 1, "x": 5}, 2, lambda k: k == "m") == {"m"}
    # a big must-fold file never blocks the small ones behind it
    assert fold_set({"m": 10**9, "x": 3, "y": 7}, 2,
                    lambda k: k == "m") == {"m", "x", "y"}


def test_fold_set_chain_of_growing_files():
    sizes = {"a": 1, "b": 2, "c": 4, "d": 8, "e": 100}
    # a 1 ≤ 2·1, b 2 ≤ 2·2, c 4 ≤ 2·4, d 8 ≤ 2·8; e 100 > 2·16 settles
    assert fold_set(sizes, 1) == {"a", "b", "c", "d"}
    assert fold_set({"a": 2}, 1) == {"a"}  # size == ratio × mass folds
    assert fold_set({"a": 3}, 1) == set()


def test_fold_set_ties_fold_or_stay_together():
    for order in itertools.permutations([("a", 5), ("b", 5), ("c", 1)]):
        sizes = dict(order)
        assert fold_set(sizes, 2) == {"c", "a", "b"}  # c lifts mass to 3
        assert fold_set({k: v for k, v in sizes.items() if k != "c"},
                        2) == set()


def test_fold_sources_picks_generations_by_bytes(tmp_path):
    """The generational fold over a synthetic root: every committed
    per-batch dir, then generations smallest-first while their bytes are
    ≤ 2 × the accumulated mass (ties in path order)."""
    from next_plaid_spark.streaming.curation import _fold_sources

    def mkdir(name, nbytes, complete=True):
        d = tmp_path / name
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x" * nbytes)
        if complete:
            (d / "_SUCCESS").write_bytes(b"")

    mkdir("b3", 100)
    mkdir("b4", 50)
    mkdir("b5", 70)                  # the in-flight batch: excluded
    mkdir("b6", 70, complete=False)  # incomplete: invisible
    mkdir("g0", 5000)                # settled
    mkdir("g1", 200)
    mkdir("g3", 200)
    mkdir("g2", 300)
    mkdir("g5", 2000)
    root = str(tmp_path)
    got = [os.path.basename(p) for p in _fold_sources(root, exclude_batch=5)]
    # mass 150 → g1 (200 ≤ 300) → 350 → g3 → 550 → g2 → 850 → g5
    # (2000 > 1700) settles, and so does g0
    assert got == ["b3", "b4", "g1", "g3", "g2"]

    for b in ("b3", "b4"):
        for f in (tmp_path / b).iterdir():
            f.unlink()
        (tmp_path / b).rmdir()
    assert _fold_sources(root, exclude_batch=5) == []  # zero mass


# -- crash at the carry boundary ---------------------------------------------

def verify_snapshot(spark, path: str) -> None:
    """A snapshot's meta.json implies every component it commits exists,
    and its counts agree with its own files. BM25: postings, doclens and
    term_stats (positions iff with_positions); n_docs and total_dl =
    doclens rows and Σ dl, and term_stats.df = postings per term. PLAID:
    tokens_bucketed, doc_stats and centroids; documents and embeddings =
    doc_stats rows and Σ num_tokens, and the centroid count is the
    codebook size k."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)

    def rd(name):
        return spark.read.parquet(os.path.join(path, name))

    bm25 = "n_docs" in meta
    want = ({"postings", "doclens", "term_stats"}
            | ({"positions"} if meta["with_positions"] else set())
            if bm25 else {"tokens_bucketed", "doc_stats", "centroids"})
    dirs = {d for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d))}
    assert dirs == want, (path, sorted(dirs))
    if bm25:
        n, s = rd("doclens").agg(F.count("*"), F.sum("dl")).first()
        assert (meta["n_docs"], meta["total_dl"]) == (n, s or 0)
        df = rd("postings").groupBy("term").agg(F.count("*").alias("df"))
        assert (sorted(map(tuple, df.collect()))
                == sorted(map(tuple, rd("term_stats")
                              .select("term", "df").collect())))
    else:
        n, s = rd("doc_stats").agg(F.count("*"), F.sum("num_tokens")).first()
        assert (meta["num_documents"], meta["num_embeddings"]) == (n, s or 0)
        assert rd("centroids").count() == meta["k"]


def _crash_carry(monkeypatch) -> list[int]:
    """Every carry links half its files, then raises; returns the number
    of files each call was asked to carry."""
    real = tiered.carry
    calls: list[int] = []

    def crashing(paths, dst_dir):
        paths = list(paths)
        calls.append(len(paths))
        real(paths[:len(paths) // 2], dst_dir)
        raise RuntimeError("injected crash")

    monkeypatch.setattr(tiered, "carry", crashing)
    return calls


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_update_index_delta_crash_at_carry(spark, tmp_path, monkeypatch,
                                           bucket_cap_binds):
    from next_plaid_spark.encoding import clustered_token_corpus
    from next_plaid_spark.operators.update import update_index_delta
    from next_plaid_spark.plans.builder import IndexBuilder
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams
    from next_plaid_spark.sources.index_store import PlaidIndex

    toks, _ = clustered_token_corpus(
        spark, n_docs=240, tokens_per_doc=4, dim=8, n_clusters=8, seed=37)
    v0 = str(tmp_path / "v0")
    IndexBuilder(spark, k=8, bucket_tokens=4).build(
        toks.filter(F.col("doc_id") < 200), v0)
    queries = toks.filter(F.col("doc_id") < 3).withColumnRenamed(
        "doc_id", "query_id")

    def search(ix):
        return _rows(BatchSearcher(ix, SearchParams(top_k=5)).search(queries))

    def delta(out):
        # gone doc 5 dirties one bucket; the others' base files carry
        return update_index_delta(
            spark, PlaidIndex.load(spark, v0),
            spark.createDataFrame([(5,)], "doc_id long"),
            toks.filter(F.col("doc_id") >= 200), out)

    want_old = search(PlaidIndex.load(spark, v0))
    v1 = str(tmp_path / "v1")
    with monkeypatch.context() as m:
        calls = _crash_carry(m)
        with pytest.raises(RuntimeError, match="injected crash"):
            delta(v1)
    assert max(calls) >= 2  # some files were linked before the crash

    assert not os.path.exists(os.path.join(v1, "meta.json"))
    verify_snapshot(spark, v0)
    assert search(PlaidIndex.load(spark, v0)) == want_old

    got, want = delta(v1), delta(str(tmp_path / "clean"))
    verify_snapshot(spark, got.path)
    verify_snapshot(spark, want.path)
    assert (got.meta.num_documents, got.meta.num_embeddings) == (
        want.meta.num_documents, want.meta.num_embeddings)
    assert _rows(got.tokens) == _rows(want.tokens)
    assert _rows(got.doclens) == _rows(want.doclens)
    assert search(got) == search(want)


def test_bm25_save_delta_crash_at_carry(spark, tmp_path, monkeypatch):
    from next_plaid_spark.operators.bm25 import BM25Index, _tokenizer

    # 8 doclens files and ~40 of postings and positions, so a delta both
    # folds and carries files
    monkeypatch.setattr(tiered, "ROWS_PER_FILE", 25)
    monkeypatch.setattr(tiered, "TOKENS_PER_BUCKET", 25)
    v1 = str(tmp_path / "v1")
    base = [(i, f"alpha w{i % 17} w{i % 5} beta w{i % 23}")
            for i in range(200)]
    BM25Index.build(spark.createDataFrame(base, "doc_id long, text string"),
                    with_positions=True).save(v1)
    queries = spark.createDataFrame(
        [(0, "alpha w3"), (1, "beta w7 kappa")], "query_id long, text string")
    toks = spark.createDataFrame(
        [(3, "kappa w3 w3"), (500, "kappa alpha")],
        "doc_id long, text string").select(
        "doc_id",
        F.posexplode(_tokenizer("unicode61")(F.col("text"))).alias(
            "pos", "term"))

    def delta(out):
        # doc 3 is re-encoded, doc 4 deleted: only the low doc range folds
        BM25Index.load(spark, v1).save_delta(
            out,
            gone_docs=spark.createDataFrame([(3,), (4,)], "doc_id long"),
            post_new=toks.groupBy("term", "doc_id").agg(
                F.count("*").alias("tf")),
            dl_new=toks.groupBy("doc_id").agg(F.count("*").alias("dl")),
            pos_new=toks.select("term", "doc_id", "pos"))
        return BM25Index.load(spark, out)

    want_old = _rows(BM25Index.load(spark, v1).search(queries, k=5))
    v2 = str(tmp_path / "v2")
    with monkeypatch.context() as m:
        calls = _crash_carry(m)
        with pytest.raises(RuntimeError, match="injected crash"):
            delta(v2)
    assert max(calls) >= 2  # some files were linked before the crash

    assert not os.path.exists(os.path.join(v2, "meta.json"))
    verify_snapshot(spark, v1)
    assert _rows(BM25Index.load(spark, v1).search(queries, k=5)) == want_old

    got, want = delta(v2), delta(str(tmp_path / "clean"))
    verify_snapshot(spark, v2)
    verify_snapshot(spark, str(tmp_path / "clean"))
    assert (got.n_docs, got.avgdl) == (want.n_docs, want.avgdl)
    for name in ("postings", "doclens", "positions", "term_stats"):
        assert _rows(getattr(got, name)) == _rows(getattr(want, name))
    assert _rows(got.search(queries, k=5)) == _rows(want.search(queries, k=5))
