"""LocalIndex (local_index.py): the MmapIndex-parity driver API — full
lifecycle create → search → update_or_create → delete → reload, plus
stats, raw-artifact accessors, and metadata co-management."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from next_plaid_spark.encoding import encode_documents, encode_queries
from next_plaid_spark.local_index import LocalIndex
from next_plaid_spark.plans.searcher import SearchParams


@pytest.fixture(scope="module")
def corpus(spark, documents):
    docs = documents.filter(F.col("doc_id") < 120).cache()
    meta = docs.select("doc_id", "lang", "source")
    return docs, meta


@pytest.fixture(scope="module")
def lix(spark, corpus, tmp_path_factory):
    docs, meta = corpus
    root = str(tmp_path_factory.mktemp("local_index"))
    return LocalIndex.create_with_kmeans(
        spark, encode_documents(docs), root, nbits=4, seed=42, metadata=meta
    )


def test_stats_surface(lix):
    assert lix.num_documents() == 120
    assert lix.embedding_dim() == 16
    assert lix.num_partitions() >= 1
    assert lix.num_embeddings() > 0
    assert lix.avg_doclen() == pytest.approx(
        lix.num_embeddings() / lix.num_documents()
    )


def test_search_single_and_batch_agree(spark, corpus, lix):
    docs, _ = corpus
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    qt = encode_queries(queries).cache()
    batch = {
        (r.query_id, r.rank): r.doc_id
        for r in lix.search_batch(qt, SearchParams(top_k=5, n_full_scores=64)).collect()
    }
    q0 = np.asarray(
        [r.vec for r in qt.filter("query_id = 0").orderBy("token_idx").collect()]
    )
    single = {r.rank: r.doc_id
              for r in lix.search(q0, SearchParams(top_k=5, n_full_scores=64)).collect()}
    assert single == {rk: d for (qid, rk), d in batch.items() if qid == 0}


def test_artifact_accessors(lix):
    codes = lix.get_document_codes([0, 1]).collect()
    assert {r.doc_id for r in codes} == {0, 1}
    some_code = codes[0].codes[0]
    cands = lix.get_candidates([some_code])
    assert codes[0].doc_id in cands
    emb = lix.reconstruct_single(0)
    assert emb.ndim == 2 and emb.shape[1] == lix.embedding_dim()
    # decompressed vectors are near-unit (residual codec roundtrip)
    norms = np.linalg.norm(emb, axis=1)
    assert np.all(norms > 0.5) and np.all(norms < 1.5)


def test_metadata_store_attached(lix):
    ms = lix.metadata()
    assert ms is not None
    assert ms.count("lang = ?", ["en"]) > 0


def test_update_or_create_append_and_delete(spark, documents, corpus, lix):
    docs, _ = corpus
    extra = documents.filter(
        (F.col("doc_id") >= 120) & (F.col("doc_id") < 140)
    )
    lix2 = LocalIndex.update_or_create(
        spark, encode_documents(extra), lix.root,
        metadata=extra.select("doc_id", "lang", "source"),
    )
    assert lix2.num_documents() == 140
    assert lix2.metadata().count() == 140
    # v1 snapshot exists; a fresh load() sees the same state
    assert LocalIndex.load(spark, lix.root).num_documents() == 140

    removed = lix2.delete([0, 1, 2])
    assert removed == 3
    assert lix2.num_documents() == 137
    assert lix2.metadata().count() == 137
    # deleted docs no longer retrievable via their own text
    queries = docs.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    got = lix2.search_batch(encode_queries(queries)).collect()
    assert all(r.doc_id != 0 for r in got)


def test_search_text_and_rerank_text(spark, tmp_path):
    """search_with_encoding / rerank_with_encoding parity surfaces: text
    in, ranked results out, agreeing with the encode-then-search path."""
    from next_plaid_spark.encoding import encode_documents, encode_queries

    docs = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma word{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    idx = LocalIndex.create_with_kmeans(
        spark, encode_documents(docs), str(tmp_path / "ix"), nbits=4, seed=42
    )
    texts = ["token3 alpha beta gamma word3", "token9 alpha beta gamma word2"]
    got = idx.search_text(texts, SearchParams(top_k=5, n_full_scores=160))
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1} and all(len(v) == 5 for v in by_q.values())
    # must equal the explicit encode → search_batch path
    qdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "query_id long, text string"
    )
    want = idx.search_batch(
        encode_queries(qdf), SearchParams(top_k=5, n_full_scores=160)
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))

    rr = idx.rerank_text(texts[0], [3, 5, 9]).collect()
    assert len(rr) == 3
    assert rr[0].score >= rr[-1].score
    assert {r.doc_id for r in rr} == {3, 5, 9}


def test_search_rejects_dimension_mismatch(lix):
    import numpy as np
    import pytest

    idx = lix
    bad = np.zeros((3, idx.embedding_dim() + 1))
    with pytest.raises(ValueError, match="dimension"):
        idx.search(bad)
    with pytest.raises(ValueError, match="tokens, dim"):
        idx.search(np.zeros(idx.embedding_dim()))


@pytest.mark.parametrize("op", ["update", "delete"])
@pytest.mark.parametrize("crash_at", ["metadata", "snapshot"])
def test_crash_keeps_previous_version(spark, documents, tmp_path,
                                      monkeypatch, op, crash_at):
    """A crash at either write of an update/delete leaves the previous
    version the latest complete one, serving the same metadata; a re-run
    into the same half-written version equals an uncrashed run. The
    metadata is written before the snapshot's meta.json commit marker —
    the other order would leave a committed version without metadata."""
    import os

    from next_plaid_spark.sources import index_store

    docs = documents.filter(F.col("doc_id") < 60)
    extra = documents.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 70))
    queries = encode_queries(documents.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"))

    def fresh(name):
        return LocalIndex.create_with_kmeans(
            spark, encode_documents(docs), str(tmp_path / name), nbits=4,
            seed=42, metadata=docs.select("doc_id", "lang", "source"))

    def run(ix):
        if op == "update":
            return ix.update(encode_documents(extra),
                             metadata=extra.select("doc_id", "lang", "source"))
        ix.delete([0, 1, 2])
        return ix

    def state(ix):
        return (os.path.basename(ix.path), ix.num_documents(),
                sorted(map(tuple, ix.metadata().df.collect())),
                sorted(map(tuple, ix.index.doclens.collect())),
                sorted(map(tuple, ix.search_batch(queries).collect())))

    ix = fresh("crashed")
    before = state(ix)
    if crash_at == "metadata":
        real = LocalIndex._write_meta

        def crash(self, *a, **kw):
            real(self, *a, **kw)
            raise RuntimeError("injected crash")

        monkeypatch.setattr(LocalIndex, "_write_meta", crash)
    else:
        def crash(*a, **kw):
            raise RuntimeError("injected crash")

        # mid-snapshot: tokens and doc_stats written, centroids and
        # the meta.json marker not yet
        monkeypatch.setattr(index_store, "write_centroids", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(ix)
    monkeypatch.undo()

    reloaded = LocalIndex.load(spark, ix.root)
    assert state(reloaded) == before
    assert state(run(reloaded)) == state(run(fresh("clean")))


def test_crash_while_serializing_marker_leaves_no_marker(
        spark, documents, tmp_path, monkeypatch):
    """A crash while meta.json's payload is being produced must leave no
    marker at all — an empty one would count as a complete snapshot that
    cannot be parsed. The previous version stays the latest, loads, and
    serves the same rows."""
    import os

    from next_plaid_spark.sources.index_store import IndexMeta

    docs = documents.filter(F.col("doc_id") < 60)
    queries = encode_queries(documents.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"))
    ix = LocalIndex.create_with_kmeans(
        spark, encode_documents(docs), str(tmp_path / "ix"), nbits=4, seed=42)
    before = sorted(map(tuple, ix.search_batch(queries).collect()))

    def crash(self):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(IndexMeta, "to_json", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        ix.update(encode_documents(documents.filter(
            (F.col("doc_id") >= 60) & (F.col("doc_id") < 70))))
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(ix.root, "v1", "meta.json"))
    reloaded = LocalIndex.load(spark, ix.root)
    assert os.path.basename(reloaded.path) == "v0"
    assert sorted(map(tuple, reloaded.search_batch(queries).collect())) == before
