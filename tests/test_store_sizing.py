"""Store files sized by their rows: a PLAID token table has one bucket per
``tiered.TOKENS_PER_BUCKET`` tokens (``bucket_tokens`` at most), at build
time and as updates grow it; the BM25 postings and positions have one file
per ``TOKENS_PER_BUCKET`` rows and its doclens and term_stats one per
``tiered.ROWS_PER_FILE``, whatever the session's core count."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from next_plaid_spark.encoding import clustered_token_corpus
from next_plaid_spark.plans.builder import IndexBuilder
from next_plaid_spark.sources import tiered


def _data_files(d):
    return sorted(f for f in os.listdir(d) if not f.startswith(("_", ".")))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_index_writes_one_token_file(spark, tmp_path):
    """An index far below ``TOKENS_PER_BUCKET`` tokens has one bucket
    whatever its cap: one token file, ``meta.n_buckets == 1``, and the
    per-doc groupBy still reads the bucket spec."""
    toks, _ = clustered_token_corpus(
        spark, n_docs=200, tokens_per_doc=4, dim=8, n_clusters=8, seed=41)
    idx = IndexBuilder(spark, k=8).build(toks, str(tmp_path / "one"))
    assert idx.meta.n_buckets == 1
    assert len(_data_files(str(tmp_path / "one" / "tokens_bucketed"))) == 1
    assert "Exchange" not in _plan(
        idx.tokens.groupBy("doc_id").agg(F.count("*").alias("n")))


def test_bucket_count_follows_tokens_up_to_the_cap(spark, tmp_path,
                                                   monkeypatch):
    """``n_buckets = min(bucket_tokens, num_embeddings // G)``: below the
    cap the token count decides, above it ``bucket_tokens`` binds; the
    rows are the same at any bucket count."""
    toks, _ = clustered_token_corpus(
        spark, n_docs=200, tokens_per_doc=4, dim=8, n_clusters=8, seed=41)

    def build(g, name):
        monkeypatch.setattr(tiered, "TOKENS_PER_BUCKET", g)
        return IndexBuilder(spark, k=8, bucket_tokens=8).build(
            toks, str(tmp_path / name))

    def rows(idx):
        return sorted(map(tuple, idx.tokens.select(
            "doc_id", "token_idx", "code", "residual").collect()))

    by_rows = build(200, "rows")            # 800 tokens // 200 = 4 < 8
    capped = build(10, "cap")               # 800 // 10 = 80 > 8
    assert by_rows.meta.n_buckets == 4
    assert capped.meta.n_buckets == 8
    for idx, name in ((by_rows, "rows"), (capped, "cap")):
        assert len(_data_files(str(tmp_path / name / "tokens_bucketed"))) \
            == idx.meta.n_buckets
    assert rows(by_rows) == rows(capped)


def test_bm25_file_count_independent_of_shuffle_partitions(spark, tmp_path,
                                                          monkeypatch):
    """A BM25 store's file count per component follows its rows, the same
    at 2 and at 8 shuffle partitions, with the same rows."""
    from next_plaid_spark.operators.bm25 import BM25Index

    docs = spark.createDataFrame(
        [(i, f"alpha w{i % 17} w{i % 5} beta w{i % 23}") for i in range(200)],
        "doc_id long, text string")
    names = ("postings", "doclens", "positions", "term_stats")

    def save(parts, name):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            BM25Index.build(docs, with_positions=True).save(
                str(tmp_path / name))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        idx = BM25Index.load(spark, str(tmp_path / name))
        counts = {c: len(_data_files(str(tmp_path / name / c)))
                  for c in names}
        return counts, {c: sorted(map(tuple, getattr(idx, c).collect()))
                        for c in names}

    counts2, rows2 = save(2, "p2")
    counts8, rows8 = save(8, "p8")
    assert counts2 == counts8 == {c: 1 for c in names}
    assert rows2 == rows8

    # 200 docs, 1000 tokens: several files per component at 100 rows a
    # file, still the same count at either partition setting
    monkeypatch.setattr(tiered, "ROWS_PER_FILE", 100)
    monkeypatch.setattr(tiered, "TOKENS_PER_BUCKET", 100)
    split2, srows2 = save(2, "s2")
    split8, srows8 = save(8, "s8")
    assert split2 == split8
    assert all(split2[c] > 1 for c in names)
    assert split2["doclens"] <= 200 // 100
    assert srows2 == srows8 == rows2


def _bucket_files(idx):
    """{bucket id: file names} of a snapshot's token table, after checking
    that each file holds only its own bucket's rows."""
    import re

    d = os.path.join(idx.path, "tokens_bucketed")
    out: dict[int, list[str]] = {}
    for f in _data_files(d):
        b = int(re.search(r"_(\d+)\.c\d+", f).group(1))
        got = {r.b for r in idx.spark.read.parquet(os.path.join(d, f)).select(
            F.pmod(F.hash("doc_id"), F.lit(idx.meta.n_buckets)).alias("b"))
            .distinct().collect()}
        assert got == {b}
        out.setdefault(b, []).append(f)
    return out


def test_appends_grow_the_bucket_count_up_to_the_cap(spark, tmp_path,
                                                    monkeypatch):
    """An index built below ``2 · TOKENS_PER_BUCKET`` tokens has one bucket;
    a chain of appends that doubles its tokens re-buckets it (every bucket
    rewritten at the new count, one file each), up to the build's
    ``bucket_tokens`` cap, and a hop with no doubling due keeps the count
    and hardlinks the settled files. The rows are those of the same chain
    kept at one bucket."""
    from next_plaid_spark.operators.update import update_index

    monkeypatch.setattr(tiered, "TOKENS_PER_BUCKET", 100)
    toks, _ = clustered_token_corpus(
        spark, n_docs=110, tokens_per_doc=4, dim=8, n_clusters=8, seed=43)
    # 160 tokens, then +80 (240: 2 buckets due), +160 (400: 4 due), +40
    # (440: still 4); every batch under the centroid-expansion threshold
    cuts = [(0, 40), (40, 60), (60, 100), (100, 110)]

    def chain(cap, name):
        lo, hi = cuts[0]
        idx = IndexBuilder(spark, k=8, bucket_tokens=cap).build(
            toks.filter(F.col("doc_id").between(lo, hi - 1)),
            str(tmp_path / f"{name}0"))
        out = [idx]
        for i, (lo, hi) in enumerate(cuts[1:], 1):
            idx = update_index(
                spark, idx, toks.filter(F.col("doc_id").between(lo, hi - 1)),
                str(tmp_path / f"{name}{i}"))
            out.append(idx)
        return out

    def rows(idx):
        return sorted(map(tuple, idx.tokens.select(
            "doc_id", "token_idx", "code", "residual").collect()))

    grown = chain(32, "g")
    assert [ix.meta.n_buckets for ix in grown] == [1, 2, 4, 4]
    assert all(ix.meta.bucket_cap == 32 for ix in grown)
    assert grown[-1].meta.num_embeddings == 440
    for ix in grown[:3]:  # built or re-bucketed: one file per bucket
        files = _bucket_files(ix)
        assert sorted(files) == list(range(ix.meta.n_buckets))
        assert all(len(fs) == 1 for fs in files.values())
    last = {f for fs in _bucket_files(grown[3]).values() for f in fs}
    assert last & {f for fs in _bucket_files(grown[2]).values() for f in fs}
    assert "Exchange" not in _plan(
        grown[-1].tokens.groupBy("doc_id").agg(F.count("*").alias("n")))

    capped = chain(2, "c")
    assert [ix.meta.n_buckets for ix in capped] == [1, 2, 2, 2]
    flat = chain(1, "f")
    assert [ix.meta.n_buckets for ix in flat] == [1, 1, 1, 1]
    assert rows(grown[-1]) == rows(capped[-1]) == rows(flat[-1])


def test_bm25_delete_rewrites_only_the_postings_file_it_hits(spark, tmp_path,
                                                            monkeypatch):
    """Postings are doc-ranged files of ``TOKENS_PER_BUCKET`` rows, so a
    one-doc delete folds only the file whose range holds the doc and
    hardlinks the others forward."""
    from next_plaid_spark.operators.bm25 import BM25Index

    monkeypatch.setattr(tiered, "TOKENS_PER_BUCKET", 100)
    docs = spark.createDataFrame(
        [(i, f"alpha w{i % 17} w{i % 5} beta w{i % 23}") for i in range(200)],
        "doc_id long, text string")
    v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    BM25Index.build(docs).save(v1)
    old = BM25Index.load(spark, v1)
    old.save_delta(
        v2, gone_docs=spark.createDataFrame([(7,)], "doc_id long"),
        post_new=spark.createDataFrame([], "term string, doc_id long, tf long"),
        dl_new=spark.createDataFrame([], "doc_id long, dl long"))

    def inodes(d):
        return {os.stat(os.path.join(d, f)).st_ino for f in _data_files(d)}

    before = inodes(os.path.join(v1, "postings"))
    after = inodes(os.path.join(v2, "postings"))
    assert len(before) == 1000 // 100
    assert len(before - after) == 1  # the one folded file
    assert len(after - before) == 1  # its rewrite, minus doc 7
    assert sorted(map(tuple, BM25Index.load(spark, v2).postings.collect())) \
        == sorted(map(tuple, old.postings.filter("doc_id != 7").collect()))
