"""r15 tiered BM25 store: save_delta ≡ full merged rebuild (VERDICT r14 #3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from next_plaid_spark.operators.bm25 import BM25Index

DOCS_V1 = [
    (0, "alpha beta gamma alpha"),
    (1, "beta delta"),
    (2, "gamma gamma epsilon"),
    (3, "alpha zeta"),
    (4, "eta theta beta"),
]
# update: doc 1 re-encoded (same id, new text), doc 3 deleted, docs 5/6 new
GONE = [1, 3]
DOCS_NEW = [
    (1, "delta delta omega"),
    (5, "alpha omega"),
    (6, "beta beta beta iota"),
]
DOCS_V2 = [d for d in DOCS_V1 if d[0] not in GONE] + DOCS_NEW


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _toks(docs):
    from next_plaid_spark.operators.bm25 import _tokenizer

    return docs.select(
        F.col("doc_id"),
        F.posexplode(_tokenizer("unicode61")(F.col("text"))).alias(
            "pos", "term"),
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_save_delta_matches_full_rebuild(spark, tmp_path):
    v1_path = str(tmp_path / "v1")
    v2_path = str(tmp_path / "v2")
    BM25Index.build(_mk(spark, DOCS_V1), with_positions=True).save(v1_path)
    idx1 = BM25Index.load(spark, v1_path)
    assert idx1.total_dl == sum(len(t.split()) for _, t in DOCS_V1)

    toks_new = _toks(_mk(spark, DOCS_NEW))
    idx1.save_delta(
        v2_path,
        gone_docs=spark.createDataFrame([(g,) for g in GONE], "doc_id long"),
        post_new=toks_new.groupBy("term", "doc_id").agg(
            F.count("*").alias("tf")),
        dl_new=toks_new.groupBy("doc_id").agg(F.count("*").alias("dl")),
        pos_new=toks_new.select("term", "doc_id", "pos"),
    )
    got = BM25Index.load(spark, v2_path)
    want = BM25Index.build(_mk(spark, DOCS_V2), with_positions=True)

    # stores hold identical rows (no stale rows for re-added doc 1, doc 3
    # gone, new docs present)
    assert _sorted_rows(got.postings) == _sorted_rows(want.postings)
    assert _sorted_rows(got.doclens) == _sorted_rows(want.doclens)
    assert _sorted_rows(got.positions) == _sorted_rows(want.positions)
    assert got.n_docs == want.n_docs
    assert got.avgdl == want.avgdl  # exact integer arithmetic, same division
    assert got.total_dl == sum(len(t.split()) for _, t in DOCS_V2)

    # term_stats: exact df + the max_sat bound under the new avgdl —
    # same arithmetic as a fresh save()'s derivation
    want.save(str(tmp_path / "w"))
    want_loaded = BM25Index.load(spark, str(tmp_path / "w"))
    gstats = {r.term: (r.df, r.max_sat) for r in got.term_stats.collect()}
    wstats = {r.term: (r.df, r.max_sat)
              for r in want_loaded.term_stats.collect()}
    assert gstats == wstats

    # search parity, pruned and exhaustive
    qs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "omega gamma"), (2, "beta")],
        "query_id long, text string")
    for prune in (False, True):
        a = _sorted_rows(got.search(qs, k=3, prune=prune))
        b = _sorted_rows(want.search(qs, k=3, prune=prune))
        assert a == b

    # tiering: untouched files carried forward as hardlinks, delta landed
    # as new files (the O(delta) write-amplification claim at file level)
    v1_files = {f for f in os.listdir(os.path.join(v1_path, "postings"))
                if not f.startswith(("_", "."))}
    v2_files = {f for f in os.listdir(os.path.join(v2_path, "postings"))
                if not f.startswith(("_", "."))}
    assert v2_files - v1_files  # a fresh delta file exists


def test_save_delta_pure_append_hardlinks_settled_files(spark, tmp_path):
    """gone=None: no old file folds by the delete rule; only Bentley-Saxe
    smalls rewrite, so a settled store appends O(batch) — every base file
    big relative to the delta is carried forward as a hardlink."""
    v1_path = str(tmp_path / "v1")
    v2_path = str(tmp_path / "v2")
    base = [(i, f"alpha w{i % 17} w{i % 5} beta w{i % 23}")
            for i in range(200)]
    BM25Index.build(_mk(spark, base)).save(v1_path)
    idx1 = BM25Index.load(spark, v1_path)
    toks_new = _toks(_mk(spark, [(500, "kappa alpha")]))
    idx1.save_delta(
        v2_path, gone_docs=None,
        post_new=toks_new.groupBy("term", "doc_id").agg(
            F.count("*").alias("tf")),
        dl_new=toks_new.groupBy("doc_id").agg(F.count("*").alias("dl")),
    )
    got = BM25Index.load(spark, v2_path)
    want = BM25Index.build(_mk(spark, base + [(500, "kappa alpha")]))
    assert _sorted_rows(got.postings) == _sorted_rows(want.postings)
    assert _sorted_rows(got.doclens) == _sorted_rows(want.doclens)
    assert got.n_docs == want.n_docs and got.avgdl == want.avgdl
    # the delta (2 postings rows) must not rewrite the settled base files:
    # every base file with > FOLD_RATIO × delta rows hardlinks forward
    from next_plaid_spark.sources.tiered import FOLD_RATIO, parquet_rows

    carried = settled = 0
    for fn in os.listdir(os.path.join(v1_path, "postings")):
        if fn.startswith(("_", ".")):
            continue
        src = os.path.join(v1_path, "postings", fn)
        dst = os.path.join(v2_path, "postings", fn)
        if parquet_rows(src) > FOLD_RATIO * 2:
            settled += 1
            assert os.path.exists(dst)
            if os.stat(src).st_ino == os.stat(dst).st_ino:
                carried += 1
    assert settled > 0 and carried == settled
