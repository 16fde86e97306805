"""doc_id-bucketed token storage: the cluster-scale layout where per-doc
groupBys/joins read the bucket spec instead of shuffling the corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.encoding import clustered_token_corpus
from next_plaid_spark.plans.builder import IndexBuilder
from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

# the layout tests below need several buckets from small corpora
pytestmark = pytest.mark.usefixtures("bucket_cap_binds")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_tokens_skip_the_per_doc_shuffle(spark, tmp_path):
    toks, _ = clustered_token_corpus(
        spark, n_docs=200, tokens_per_doc=4, dim=8, n_clusters=16, seed=3
    )
    bidx = IndexBuilder(spark, k=16, bucket_tokens=8).build(
        toks, str(tmp_path / "bucketed")
    )
    # the bucket spec satisfies the groupBy's required distribution
    assert "Exchange" not in _plan(
        bidx.tokens.groupBy("doc_id").agg(F.count("*").alias("n")))
    assert bidx.meta.bucket_table and bidx.meta.n_buckets == 8


def test_build_writes_each_table_at_its_grain(spark, tmp_path, monkeypatch):
    """The build sizes doc_stats by its rows — ``max(1, n_docs //
    ROWS_PER_FILE)`` files, as every update hop does — not by the bucket
    count, with the same rows at any file count; and it keeps one token
    file per non-empty bucket, each holding only its bucket's rows."""
    import os
    import re

    from next_plaid_spark.sources import tiered

    def data_files(d):
        return sorted(f for f in os.listdir(d) if not f.startswith(("_", ".")))

    def stats(idx):
        return sorted((r.doc_id, r.num_tokens, tuple(r.codes))
                      for r in idx._doc_stats.collect())

    toks, _ = clustered_token_corpus(
        spark, n_docs=200, tokens_per_doc=4, dim=8, n_clusters=8, seed=41
    )
    idx = IndexBuilder(spark, k=8, bucket_tokens=8).build(
        toks, str(tmp_path / "one"))
    assert len(data_files(str(tmp_path / "one" / "doc_stats"))) == 1

    monkeypatch.setattr(tiered, "ROWS_PER_FILE", 50)
    split = IndexBuilder(spark, k=8, bucket_tokens=8).build(
        toks, str(tmp_path / "split"))
    assert len(data_files(str(tmp_path / "split" / "doc_stats"))) == 200 // 50
    assert stats(split) == stats(idx)

    buckets = {r.b for r in toks.select(
        F.pmod(F.hash("doc_id"), F.lit(8)).alias("b")).distinct().collect()}
    tok_dir = str(tmp_path / "one" / "tokens_bucketed")
    files = data_files(tok_dir)
    by_bucket = {int(re.search(r"_(\d+)\.c\d+", f).group(1)): f
                 for f in files}
    assert len(files) == len(by_bucket) and set(by_bucket) == buckets
    for b, f in by_bucket.items():
        got = {r.b for r in spark.read.parquet(os.path.join(tok_dir, f))
               .select(F.pmod(F.hash("doc_id"), F.lit(8)).alias("b"))
               .distinct().collect()}
        assert got == {b}


def test_bucket_shuffle_one_file_per_bucket_one_task_per_core(spark,
                                                              tmp_path):
    """``tiered.bucket_shuffle`` writes in at most one task per core, and a
    partitioned write through it still gives each partition dir one
    file."""
    import os

    from next_plaid_spark.sources import tiered

    n = 16
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(400).withColumn("b", F.col("id") % n)
    shuffled = tiered.bucket_shuffle(df, n, F.col("b"))
    assert shuffled.rdd.getNumPartitions() == min(n, cores)
    out = str(tmp_path / "parts")
    shuffled.write.partitionBy("b").parquet(out)
    dirs = [d for d in os.listdir(out) if d.startswith("b=")]
    assert len(dirs) == n
    for d in dirs:
        assert len([f for f in os.listdir(os.path.join(out, d))
                    if not f.startswith(("_", "."))]) == 1


def test_bucketed_index_reloads_without_catalog(spark, tmp_path):
    """A session whose catalog lost the table (fresh cluster) must still
    read the bucketed FILES as plain parquet."""
    from next_plaid_spark.sources.index_store import PlaidIndex

    toks, _ = clustered_token_corpus(
        spark, n_docs=100, tokens_per_doc=3, dim=8, n_clusters=8, seed=4
    )
    bidx = IndexBuilder(spark, k=8, bucket_tokens=4).build(
        toks, str(tmp_path / "b2")
    )
    n = bidx.tokens.count()
    spark.sql(f"DROP TABLE IF EXISTS {bidx.meta.bucket_table}")
    reloaded = PlaidIndex.load(spark, str(tmp_path / "b2"))
    assert reloaded.tokens.count() == n
    # and the fallback plan is a plain parquet scan (shuffle returns)
    assert "Exchange" in _plan(
        reloaded.tokens.groupBy("doc_id").agg(F.count("*"))
    )


def test_inplace_rebuild_serves_new_corpus(spark, tmp_path):
    """Rebuilding an index IN PLACE over a different corpus must serve the
    NEW corpus, both through the session's catalog table and from the
    files alone after a reload without it — no token file of the old
    build may survive in tokens_bucketed/."""
    from next_plaid_spark.sources.index_store import PlaidIndex

    path = str(tmp_path / "same")
    toks_old, _ = clustered_token_corpus(
        spark, n_docs=60, tokens_per_doc=3, dim=8, n_clusters=8, seed=5
    )
    IndexBuilder(spark, k=8, bucket_tokens=4).build(toks_old, path)

    toks_new, _ = clustered_token_corpus(
        spark, n_docs=90, tokens_per_doc=3, dim=8, n_clusters=8, seed=6
    )
    idx2 = IndexBuilder(spark, k=8, bucket_tokens=4).build(toks_new, path)
    want = sorted(tuple(r) for r in toks_new.select(
        "doc_id", "token_idx").collect())
    got = lambda idx: sorted(tuple(r) for r in idx.tokens.select(  # noqa: E731
        "doc_id", "token_idx").collect())
    assert got(idx2) == want
    spark.sql(f"DROP TABLE IF EXISTS {idx2.meta.bucket_table}")
    assert got(PlaidIndex.load(spark, path)) == want


def test_zero_token_snapshot_reloads_without_catalog(spark, tmp_path):
    """Deleting every doc leaves a token dir with no data file (a bucketed
    write of no rows writes none); a session without the catalog table
    must still read it as zero tokens and search it to an empty result."""
    from next_plaid_spark.operators.update import delete_from_index
    from next_plaid_spark.sources.index_store import PlaidIndex

    toks, _ = clustered_token_corpus(
        spark, n_docs=5, tokens_per_doc=3, dim=8, n_clusters=4, seed=7
    )
    idx = IndexBuilder(spark, k=4, bucket_tokens=32).build(
        toks, str(tmp_path / "v0"))
    empty = delete_from_index(spark, idx, list(range(5)), str(tmp_path / "v1"))
    spark.sql(f"DROP TABLE IF EXISTS {empty.meta.bucket_table}")
    reloaded = PlaidIndex.load(spark, str(tmp_path / "v1"))
    assert reloaded.tokens.count() == 0
    qt = toks.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_id"), "token_idx", "vec")
    assert BatchSearcher(reloaded, SearchParams(top_k=3)).search(
        qt).collect() == []


def test_update_and_delete_preserve_bucketed_layout(spark, tmp_path):
    """Append/delete snapshots of a bucketed index stay bucketed with the
    same bucket count, and their per-doc groupBy stays shuffle-free."""
    from next_plaid_spark.operators.update import (
        delete_from_index,
        update_index,
    )

    toks, _ = clustered_token_corpus(
        spark, n_docs=120, tokens_per_doc=4, dim=8, n_clusters=8, seed=9
    )
    old = toks.filter(F.col("doc_id") < 100)
    new = toks.filter(F.col("doc_id") >= 100)
    bidx = IndexBuilder(spark, k=8, bucket_tokens=4).build(
        old, str(tmp_path / "b0")
    )
    b1 = update_index(spark, bidx, new, str(tmp_path / "b1"))
    assert b1.meta.bucket_table and b1.meta.n_buckets == 4
    b2 = delete_from_index(spark, b1, [0, 1, 2], str(tmp_path / "b2"))
    assert b2.meta.bucket_table and b2.meta.n_buckets == 4
    # shuffle-free per-doc groupBy still holds on the updated snapshot
    assert "Exchange" not in _plan(
        b2.tokens.groupBy("doc_id").agg(F.count("*").alias("n"))
    )


def test_update_index_delta_matches_two_step(spark, tmp_path):
    """The fused bucket-aware delete+append must be value-identical to
    delete_from_index + update_index (tokens, doc_stats, meta,
    search results), hardlink settled files forward (inode identity; a
    delete-owning bucket folds entirely, an appended bucket gains one
    fresh file), and place every row in the bucket its file name claims
    — which pins the F.hash == bucketBy-placement assumption the
    delete-fold relies on."""
    import os
    import re

    from next_plaid_spark.operators.update import (
        delete_from_index,
        update_index,
        update_index_delta,
    )

    toks, _ = clustered_token_corpus(
        spark, n_docs=150, tokens_per_doc=4, dim=8, n_clusters=8, seed=11
    )
    old = toks.filter(F.col("doc_id") < 130)
    new = toks.filter(F.col("doc_id") >= 130)
    gone_ids = [0, 1, 2, 7, 55]
    bidx = IndexBuilder(spark, k=8, bucket_tokens=8).build(
        old, str(tmp_path / "b0")
    )
    gone = spark.createDataFrame([(i,) for i in gone_ids], "doc_id long")

    shr = delete_from_index(spark, bidx, gone_ids, str(tmp_path / "del"))
    # buffer_threshold=5 < 20 new docs → BOTH paths exercise centroid
    # expansion (path c), not just plain append
    two = update_index(spark, shr, new, str(tmp_path / "two"),
                       buffer_threshold=5)
    delta = update_index_delta(spark, bidx, gone, new,
                               str(tmp_path / "delta"), buffer_threshold=5)

    assert delta.meta.bucket_table and delta.meta.n_buckets == 8
    assert delta.meta.num_documents == two.meta.num_documents
    assert delta.meta.num_embeddings == two.meta.num_embeddings
    assert delta.meta.k == two.meta.k

    cols = sorted(two.tokens.columns)
    rows = lambda idx: sorted(  # noqa: E731
        tuple(r) for r in idx.tokens.select(*cols).collect())
    assert rows(delta) == rows(two)
    stats = lambda p: sorted(  # noqa: E731
        (r.doc_id, r.num_tokens, tuple(r.codes))
        for r in spark.read.parquet(str(p) + "/doc_stats").collect())
    assert stats(tmp_path / "delta") == stats(tmp_path / "two")

    # r14 tiered-file appends: a bucket owning a DELETED doc folds
    # entirely (its old inode must not survive); every other bucket's
    # old file rides forward as a hardlink (appends add files, they
    # don't rewrite settled ones); buckets receiving new docs gain an
    # extra fresh file; every file's rows hash into its file-name bucket
    bucket_of = lambda fn: int(re.search(r"_(\d+)\.c\d+", fn).group(1))  # noqa: E731
    old_dir = str(tmp_path / "b0" / "tokens_bucketed")
    new_dir = str(tmp_path / "delta" / "tokens_bucketed")
    old_inodes = {bucket_of(f): os.stat(os.path.join(old_dir, f)).st_ino
                  for f in os.listdir(old_dir)
                  if not f.startswith(("_", "."))}
    del_dirty = {r.b for r in gone.select(
        F.pmod(F.hash("doc_id"), F.lit(8)).alias("b")).distinct().collect()}
    new_buckets = {r.b for r in new.select(
        F.pmod(F.hash("doc_id"), F.lit(8)).alias("b")).distinct().collect()}
    assert del_dirty and len(del_dirty) < 8
    inodes_by_bucket: dict[int, set] = {}
    for f in os.listdir(new_dir):
        if f.startswith(("_", ".")):
            continue
        b = bucket_of(f)
        got = {r.b for r in spark.read.parquet(os.path.join(new_dir, f))
               .select(F.pmod(F.hash("doc_id"), F.lit(8)).alias("b"))
               .distinct().collect()}
        assert got <= {b}
        inodes_by_bucket.setdefault(b, set()).add(
            os.stat(os.path.join(new_dir, f)).st_ino)
    for b, ino in old_inodes.items():
        if b in del_dirty:
            assert ino not in inodes_by_bucket.get(b, set())
        else:
            assert ino in inodes_by_bucket[b]  # hardlinked forward
    for b in new_buckets - del_dirty:
        # appended bucket: the settled old file plus one fresh file
        assert len(inodes_by_bucket[b]) == 2

    # end to end: identical search results through the funnel
    qt = toks.filter(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("query_id"), "token_idx", "vec"
    )
    prm = SearchParams(top_k=5)
    a = sorted(tuple(r) for r in BatchSearcher(delta, prm).search(qt).collect())
    b = sorted(tuple(r) for r in BatchSearcher(two, prm).search(qt).collect())
    assert a == b


def test_full_rebuild_path_keeps_bucketed_layout(spark, tmp_path):
    """update_index path (a) (corpus <= rebuild_threshold with raw tokens
    provided) must rebuild a bucketed index BUCKETED — the layout is the
    search contract, not a per-snapshot accident — at the build's own
    ``bucket_tokens`` cap (``meta.bucket_cap``), as a fresh build with it
    would be."""
    from next_plaid_spark.operators.update import update_index

    toks, _ = clustered_token_corpus(
        spark, n_docs=60, tokens_per_doc=4, dim=8, n_clusters=8, seed=21
    )
    old = toks.filter(F.col("doc_id") < 50)
    new = toks.filter(F.col("doc_id") >= 50)
    bidx = IndexBuilder(spark, k=8, bucket_tokens=4).build(
        old, str(tmp_path / "b0")
    )
    rebuilt = update_index(spark, bidx, new, str(tmp_path / "b1"),
                           full_rebuild_tokens=old)
    assert rebuilt.meta.num_documents == 60
    assert rebuilt.meta.bucket_table and rebuilt.meta.n_buckets == 4
    assert rebuilt.meta.bucket_cap == 4
    assert "Exchange" not in _plan(
        rebuilt.tokens.groupBy("doc_id").agg(F.count("*").alias("n"))
    )


def test_tiered_appends_spare_settled_files_and_bound_file_count(
        spark, tmp_path):
    """r14 tiered-file appends over a snapshot chain: the initial build's
    big settled file per bucket is NEVER rewritten by a chain of small
    appends (inode identity survives the whole chain), small append
    files FOLD together once their accumulated mass justifies it
    (Bentley-Saxe), so per-bucket file counts stay O(log appends) — and
    the final chain state is value-identical to one batch build."""
    import os

    from next_plaid_spark.operators.update import update_index

    toks, _ = clustered_token_corpus(
        spark, n_docs=400, tokens_per_doc=4, dim=8, n_clusters=8, seed=31
    )
    base = toks.filter(F.col("doc_id") < 300)
    idx = IndexBuilder(spark, k=8, bucket_tokens=2).build(
        base, str(tmp_path / "v0"))
    tok_dir = lambda i: str(tmp_path / f"v{i}" / "tokens_bucketed")  # noqa: E731

    def files(d):
        return {f: os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if not f.startswith(("_", "."))}

    settled = set(files(tok_dir(0)).values())
    assert len(settled) == 2  # one big file per bucket after the build

    n_appends = 8
    step = (400 - 300) // n_appends
    for i in range(n_appends):
        lo = 300 + i * step
        hi = 400 if i == n_appends - 1 else 300 + (i + 1) * step
        idx = update_index(
            spark, idx,
            toks.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            str(tmp_path / f"v{i + 1}"))
        assert settled <= set(files(tok_dir(i + 1)).values())

    final_files = files(tok_dir(n_appends))
    # 8 appends x 2 buckets would be 18 files without folding; tiering
    # keeps each bucket to the settled file plus a logarithmic tail
    assert len(final_files) < 2 + 2 * n_appends
    # and at least one fold actually fired: some append files are gone
    # (folded into a bigger one) relative to the no-fold projection
    assert len(final_files) <= 12

    # doc_stats gets the same economy (r14): the base build's stats
    # file (one, sized by its 300 rows) survives the FIRST append by
    # inode (it holds far more rows than 2x the 12-doc batch, so no tier
    # fold touches it; no delete fires here), and by chain end at least
    # one fold has fired so the file count sits below the no-fold
    # projection. (The accumulated append mass may LEGITIMATELY fold the
    # base file later in the chain — that is the O(log) rewrite
    # schedule, not a defect.)
    sd_dir = lambda i: str(tmp_path / f"v{i}" / "doc_stats")  # noqa: E731
    sd0 = files(sd_dir(0))
    assert set(sd0.values()) <= set(files(sd_dir(1)).values())
    assert len(files(sd_dir(n_appends))) < len(sd0) + n_appends

    # value contract: the chain equals one batch build of the full corpus
    want = sorted((r.doc_id, r.num_tokens) for r in IndexBuilder(
        spark, k=8, bucket_tokens=2).build(
        toks, str(tmp_path / "full")).doclens.collect())
    got = sorted((r.doc_id, r.num_tokens) for r in idx.doclens.collect())
    assert got == want


def test_delete_folds_only_range_hit_stats_files(spark, tmp_path):
    """r14 doc_stats delete folds are pruned by parquet footer doc_id
    min/max: deleting base-range docs folds the base build's stats file
    (one file of every base doc, so its range spans them all) but every
    append-tier stats file whose doc_id range is disjoint from the
    deleted ids survives by inode — a takedown must not rewrite the
    whole stats history. Values stay exact (doclens vs the expected
    survivor set)."""
    import os

    from next_plaid_spark.operators.update import (
        update_index,
        update_index_delta,
    )
    from next_plaid_spark.sources.tiered import parquet_minmax

    toks, _ = clustered_token_corpus(
        spark, n_docs=350, tokens_per_doc=4, dim=8, n_clusters=8, seed=37
    )
    idx = IndexBuilder(spark, k=8, bucket_tokens=2).build(
        toks.filter(F.col("doc_id") < 300), str(tmp_path / "v0"))
    # one append: its 50-doc stats file has a [300, 349] footer range,
    # disjoint from the base's [0, 299]-spanning file (the base file is
    # too big for the 50-doc tier fold, so both coexist in v1 — a later
    # same-size fold cascade would merge them, which is the legitimate
    # O(log) schedule, just not this scenario)
    idx = update_index(
        spark, idx,
        toks.filter(F.col("doc_id") >= 300), str(tmp_path / "v1"))

    sd = lambda v: str(tmp_path / v / "doc_stats")  # noqa: E731

    def stats_files(d):
        return {f: (os.stat(os.path.join(d, f)).st_ino,
                    parquet_minmax(os.path.join(d, f), "doc_id"))
                for f in os.listdir(d) if not f.startswith(("_", "."))}

    before = stats_files(sd("v1"))
    gone_ids = [5, 6]
    gone = spark.createDataFrame([(i,) for i in gone_ids], "doc_id long")
    empty = spark.createDataFrame(
        [], "doc_id long, token_idx int, vec array<float>")
    idx3 = update_index_delta(spark, idx, gone, empty, str(tmp_path / "v2"))

    after_inodes = {ino for ino, _mm in stats_files(sd("v2")).values()}
    survivors = folded = 0
    for _f, (ino, mm) in before.items():
        assert mm is not None
        lo, hi = mm
        if hi < min(gone_ids) or lo > max(gone_ids):
            assert ino in after_inodes  # range-disjoint: hardlinked
            survivors += 1
        else:
            assert ino not in after_inodes  # range-hit: folded
            folded += 1
    assert survivors >= 1 and folded >= 1  # both behaviors exercised

    want = sorted((r.doc_id, r.num_tokens) for r in idx.doclens.collect()
                  if r.doc_id not in gone_ids)
    got = sorted((r.doc_id, r.num_tokens) for r in idx3.doclens.collect())
    assert got == want


def test_parquet_minmax_without_statistics_returns_none(tmp_path):
    """A parquet file written without column statistics must report None
    (the delete-fold then conservatively treats it as range-hit) while
    the footer row count still reads exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from next_plaid_spark.sources.tiered import parquet_minmax, parquet_rows

    p = str(tmp_path / "nostats.parquet")
    pq.write_table(pa.table({"doc_id": [7, 3, 9]}), p,
                   write_statistics=False)
    assert parquet_minmax(p, "doc_id") is None
    assert parquet_rows(p) == 3

    p2 = str(tmp_path / "stats.parquet")
    pq.write_table(pa.table({"doc_id": [7, 3, 9]}), p2)
    assert parquet_minmax(p2, "doc_id") == (3, 9)
