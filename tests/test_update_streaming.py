"""Incremental maintenance (U1-U6) + streaming ingest invariants.

Core invariant (reference metadata_sync_test.rs:54-300): the update-path
index must be *semantically* equivalent to a batch rebuild of the same
corpus — same documents retrievable, same doclens, search still finds the
appended docs.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from next_plaid_spark.encoding import encode_documents, encode_queries
from next_plaid_spark.operators.update import (
    delete_from_index,
    dense_id_mapping,
    find_outliers,
    update_index,
)
from next_plaid_spark.plans.builder import IndexBuilder
from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams


@pytest.fixture(scope="module")
def base(spark, documents, tmp_path_factory):
    root = tmp_path_factory.mktemp("upd")
    old_docs = documents.filter(F.col("doc_id") < 150)
    new_docs = documents.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 180))
    old_tokens = encode_documents(old_docs).cache()
    idx = IndexBuilder(spark, nbits=4, seed=42).build(old_tokens, str(root / "v0"))
    return root, idx, old_docs, new_docs, old_tokens


def test_append_small_batch(spark, base):
    """Path (b): < buffer_threshold new docs → append, codebook unchanged."""
    root, idx, old_docs, new_docs, old_tokens = base
    new_tokens = encode_documents(new_docs)
    idx2 = update_index(spark, idx, new_tokens, str(root / "v1"))
    assert idx2.meta.num_documents == idx.meta.num_documents + 30
    assert idx2.meta.k == idx.meta.k  # no expansion below threshold
    # appended docs are searchable: restrict to the new docs (subset
    # semantics) — every query over its own text must find a near-perfect
    # match (score ≈ n query tokens; quantization costs a few %). An
    # unrestricted top-1 would be tie-ambiguous (the synthetic corpus has
    # many all-token-matching docs and ties break by doc_id asc).
    queries = new_docs.limit(5).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    n_qtokens = {
        r.query_id: r.n
        for r in qt.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    subset = new_docs.select("doc_id")
    got = BatchSearcher(idx2, SearchParams(top_k=5, n_full_scores=64)).search(
        qt, subset=subset
    ).collect()
    new_ids = {r.doc_id for r in new_docs.collect()}
    top1 = {r.query_id: r for r in got if r.rank == 1}
    assert set(top1) == set(n_qtokens)
    for qid, r in top1.items():
        assert r.doc_id in new_ids
        assert r.score >= 0.9 * n_qtokens[qid], (qid, r.score, n_qtokens[qid])


def test_delete(spark, base):
    root, idx, old_docs, *_ = base
    victims = [0, 1, 2]
    idx3 = delete_from_index(spark, idx, victims, str(root / "vdel"))
    assert idx3.meta.num_documents == idx.meta.num_documents - 3
    remaining = {r.doc_id for r in idx3.doclens.collect()}
    assert not (remaining & set(victims))
    # candidacy (doc_codes) no longer references the victims
    coded = {r.doc_id for r in idx3.doc_codes.collect()}
    assert not (coded & set(victims))


def test_dense_id_mapping(spark, base):
    _, idx, *_ = base
    m = dense_id_mapping(idx).collect()
    dense = sorted(r.dense_id for r in m)
    assert dense == list(range(len(m)))
    by_doc = sorted(m, key=lambda r: r.doc_id)
    assert [r.dense_id for r in by_doc] == list(range(len(m)))


def test_find_outliers_flags_far_vectors(spark):
    rng = np.random.default_rng(0)
    centroids = np.eye(4, dtype=np.float32)  # unit axes
    near = [0.99, 0.1, 0.0, 0.0]
    far = [-0.7, -0.7, 0.1, 0.0]
    df = spark.createDataFrame(
        [(0, 0, [float(x) for x in near]), (1, 0, [float(x) for x in far])],
        "doc_id long, token_idx int, vec array<double>",
    )
    out = find_outliers(df, centroids, threshold=0.5).collect()
    assert [r.doc_id for r in out] == [1]


def test_streaming_ingest_matches_batch(spark, documents, tmp_path_factory):
    """Stream the corpus in two chunks via foreachBatch; final index state
    must match a batch build of the full corpus (doc/token counts, doclens)."""
    import os

    from next_plaid_spark.streaming.ingest import StreamingIndexWriter, latest_index

    tmp = tmp_path_factory.mktemp("stream")
    src_dir, idx_root, ckpt = str(tmp / "in"), str(tmp / "idx"), str(tmp / "ck")
    os.makedirs(src_dir)

    docs = documents.filter(F.col("doc_id") < 240).cache()
    # two files → two availableNow micro-batches (maxFilesPerTrigger=1)
    docs.filter(F.col("doc_id") < 120).coalesce(1).write.parquet(f"{src_dir}/part1")
    docs.filter(F.col("doc_id") >= 120).coalesce(1).write.parquet(f"{src_dir}/part2")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/part*")
    )
    writer = StreamingIndexWriter(spark, idx_root)
    q = writer.attach(stream, ckpt)
    q.awaitTermination(300)

    final = latest_index(spark, idx_root)
    assert final is not None
    batch_tokens = encode_documents(docs)
    assert final.meta.num_documents == 240
    assert final.meta.num_embeddings == batch_tokens.count()
    # per-doc token counts identical to batch encode
    streamed = {r.doc_id: r.num_tokens for r in final.doclens.collect()}
    expected = {
        r.doc_id: r.cnt
        for r in batch_tokens.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert streamed == expected


def test_expand_centroids_bounded_collect(spark):
    """U3 scale gate: when outliers ≫ sample_cap the driver collect stays
    bounded but expansion still happens and k_new reflects the TRUE count."""
    from next_plaid_spark.operators.update import (
        EXPAND_FACTOR,
        EXPAND_PTS_PER_CENTROID,
        expand_centroids,
    )

    rng = np.random.default_rng(7)
    n_out = 600
    pts = rng.standard_normal((n_out, 8)).astype(np.float32)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    outliers = spark.createDataFrame(
        [(i, 0, [float(x) for x in pts[i]]) for i in range(n_out)],
        "doc_id long, token_idx int, vec array<double>",
    )
    base = np.eye(8, dtype=np.float32)[:4]
    cap = 50
    expanded = expand_centroids(outliers, base, seed=42, sample_cap=cap)
    k_new = expanded.shape[0] - base.shape[0]
    # k_new derives from the true outlier count (600), clamped to the
    # collected sample size (cap) — NOT from the capped sample count alone
    expected = min(
        max(1, int(np.ceil(n_out / EXPAND_PTS_PER_CENTROID))) * EXPAND_FACTOR, cap
    )
    assert k_new == expected
    assert expanded.shape[1] == 8
    # determinism: same seed → same centroids
    again = expand_centroids(outliers, base, seed=42, sample_cap=cap)
    assert np.array_equal(expanded, again)


def test_streaming_ingest_bucketed_delta(spark, documents, tmp_path_factory,
                                        bucket_cap_binds):
    """With bucket_tokens set, every append micro-batch goes through the
    fused delta: snapshots stay bucketed, final state matches the batch
    build, and the second snapshot reuses (hardlinks) every settled token
    file — per-batch IO is O(batch), not O(corpus)."""
    import os
    import re

    from next_plaid_spark.streaming.ingest import StreamingIndexWriter, latest_index

    tmp = tmp_path_factory.mktemp("stream_bkt")
    src_dir, idx_root, ckpt = str(tmp / "in"), str(tmp / "idx"), str(tmp / "ck")
    os.makedirs(src_dir)

    docs = documents.filter(F.col("doc_id") < 240).cache()
    # batch 2 is tiny (4 docs) so it cannot dirty every bucket — the
    # hardlink-reuse assertion below is then non-vacuous
    docs.filter(F.col("doc_id") < 236).coalesce(1).write.parquet(f"{src_dir}/part1")
    docs.filter(F.col("doc_id") >= 236).coalesce(1).write.parquet(f"{src_dir}/part2")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/part*")
    )
    writer = StreamingIndexWriter(spark, idx_root, bucket_tokens=8)
    writer.attach(stream, ckpt).awaitTermination(300)

    final = latest_index(spark, idx_root)
    assert final is not None
    assert final.meta.n_buckets == 8
    batch_tokens = encode_documents(docs)
    assert final.meta.num_documents == 240
    assert final.meta.num_embeddings == batch_tokens.count()
    streamed = {r.doc_id: r.num_tokens for r in final.doclens.collect()}
    expected = {
        r.doc_id: r.cnt
        for r in batch_tokens.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert streamed == expected

    # r14 tiered-file appends: EVERY v0 token file rides into v1 as a
    # hardlink (the tiny batch folds nothing — its mass is far below the
    # settled files'), and each bucket the batch touched gains exactly
    # one extra fresh file; per-batch write IO is O(batch), not O(corpus)
    bucket_of = lambda fn: int(re.search(r"_(\d+)\.c\d+", fn).group(1))  # noqa: E731
    tok = lambda v: os.path.join(idx_root, v, "tokens_bucketed")  # noqa: E731
    inodes0 = {bucket_of(f): os.stat(os.path.join(tok("v0"), f)).st_ino
               for f in os.listdir(tok("v0"))
               if not f.startswith(("_", "."))}
    dirty = {r.b for r in encode_documents(
        docs.filter(F.col("doc_id") >= 236)).select(
        F.pmod(F.hash("doc_id"), F.lit(8)).alias("b")).distinct().collect()}
    assert len(dirty) < 8  # untouched buckets must exist to be non-vacuous
    v1_inodes: dict[int, set] = {}
    for f in os.listdir(tok("v1")):
        if f.startswith(("_", ".")):
            continue
        v1_inodes.setdefault(bucket_of(f), set()).add(
            os.stat(os.path.join(tok("v1"), f)).st_ino)
    for b, ino in inodes0.items():
        assert ino in v1_inodes[b]  # settled file hardlinked forward
        assert len(v1_inodes[b]) == (2 if b in dirty else 1)


def test_streaming_ingest_replay_is_idempotent(spark, documents,
                                               tmp_path_factory):
    """r13: the snapshot is named by BATCH id and the base index excludes
    the in-flight batch's own prior snapshot — a replayed batch used to
    ingest itself twice (base = its own output, new version stacked on
    top). After a full replay of the last batch the latest snapshot's
    doc/token counts are unchanged."""
    import os

    from next_plaid_spark.streaming.ingest import (StreamingIndexWriter,
                                                   latest_index)

    tmp = tmp_path_factory.mktemp("ingestreplay")
    idx_root = str(tmp / "idx")
    docs = documents.filter(F.col("doc_id") < 120).cache()
    b0 = docs.filter(F.col("doc_id") < 60)
    b1 = docs.filter(F.col("doc_id") >= 60)

    writer = StreamingIndexWriter(spark, idx_root)
    writer.process_batch(b0, 0)
    writer.process_batch(b1, 1)
    before = latest_index(spark, idx_root)
    assert os.path.basename(before.path) == "v1"
    n_docs, n_emb = before.meta.num_documents, before.meta.num_embeddings
    assert n_docs == 120

    writer.process_batch(b1, 1)    # full replay of the last batch
    after = latest_index(spark, idx_root)
    assert os.path.basename(after.path) == "v1"
    assert (after.meta.num_documents, after.meta.num_embeddings) == (
        n_docs, n_emb)
    docs.unpersist()


def test_streaming_ingest_retain_prunes_old_snapshots(spark, documents,
                                                      tmp_path_factory):
    """retain=N keeps the newest N complete snapshots (floor 2 — replay
    needs the predecessor) and drops the rest after each write."""
    import os

    from next_plaid_spark.streaming.ingest import (StreamingIndexWriter,
                                                   _versions, latest_index)

    tmp = tmp_path_factory.mktemp("ingestretain")
    idx_root = str(tmp / "idx")
    docs = documents.filter(F.col("doc_id") < 90).cache()

    writer = StreamingIndexWriter(spark, idx_root, retain=2)
    for i in range(3):
        writer.process_batch(
            docs.filter((F.col("doc_id") >= 30 * i)
                        & (F.col("doc_id") < 30 * (i + 1))), i)
    assert _versions(idx_root) == [1, 2]
    assert latest_index(spark, idx_root).meta.num_documents == 90
    docs.unpersist()
