"""IndexCatalog: the reference API layer's multi-index management
(list_indices / get_index_info / create / delete_index) over LocalIndex
snapshots."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.catalog import IndexCatalog
from next_plaid_spark.encoding import encode_documents


@pytest.fixture(scope="module")
def catalog(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("catalog"))
    cat = IndexCatalog(spark, root)
    docs = documents.limit(30)
    toks = encode_documents(docs)
    meta = docs.select("doc_id", "lang", "source")
    cat.create("alpha", toks, metadata=meta)
    cat.create("beta", encode_documents(documents.limit(10)))
    return cat


def test_list_and_exists(catalog):
    assert catalog.list_indices() == ["alpha", "beta"]
    assert catalog.exists("alpha") and not catalog.exists("gamma")


def test_info_fields(catalog):
    info = catalog.info("alpha")
    assert info.num_documents == 30
    assert info.dimension > 0 and info.num_partitions > 0
    assert info.has_metadata and info.metadata_count == 30
    binfo = catalog.info("beta")
    assert binfo.num_documents == 10 and not binfo.has_metadata


def test_create_conflicts_and_bad_names(catalog, spark, documents):
    with pytest.raises(FileExistsError):
        catalog.create("alpha", encode_documents(documents.limit(5)))
    with pytest.raises(ValueError):
        catalog._dir("../escape")
    with pytest.raises(FileNotFoundError):
        catalog.open("gamma")


def test_open_search_roundtrip(catalog, spark, documents):
    li = catalog.open("alpha")
    from next_plaid_spark.encoding import encode_queries

    q = documents.limit(3).select(F.col("doc_id").alias("query_id"), "text")
    got = li.search_batch(encode_queries(q)).collect()
    assert got and all(r.rank >= 1 for r in got)


def test_max_documents_eviction(catalog, spark, documents):
    """handlers/documents.rs:500-560: appending past the configured cap
    evicts the oldest (lowest-id) documents into a new snapshot."""
    docs = documents.filter(F.col("doc_id") < 40)
    toks = encode_documents(docs)
    cat = catalog
    cat.create("evict", toks.filter(F.col("doc_id") < 20))
    cat.update_config("evict", max_documents=25)
    li = cat.open("evict")
    li.update(toks.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)))
    assert li.num_documents() == 25
    remaining = {
        r.doc_id for r in li.index.doclens.select("doc_id").collect()
    }
    assert remaining == set(range(15, 40))  # 15 oldest evicted
    cat.delete_index("evict")


@pytest.mark.parametrize("crash_at", ["append", "evict"])
def test_eviction_crash_keeps_previous_version(spark, documents, tmp_path,
                                               monkeypatch, crash_at):
    """A crash inside an update that evicts down to ``max_documents`` —
    in its staged append or in the eviction's snapshot write — leaves the
    previous version the latest: it loads and serves the same rows, no
    staging dir is left behind, and a retry equals an uncrashed update."""
    import os

    from next_plaid_spark.encoding import encode_queries
    from next_plaid_spark.sources import index_store

    docs = documents.filter(F.col("doc_id") < 40)
    toks = encode_documents(docs)
    meta = docs.select("doc_id", "lang", "source")
    queries = encode_queries(documents.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"))

    def fresh(name):
        cat = IndexCatalog(spark, str(tmp_path / name))
        cat.create("ix", toks.filter(F.col("doc_id") < 20),
                   metadata=meta.filter(F.col("doc_id") < 20))
        cat.update_config("ix", max_documents=25)
        return cat

    def run(cat):
        new = F.col("doc_id") >= 20
        return cat.open("ix").update(toks.filter(new),
                                     metadata=meta.filter(new))

    def state(li):
        return (os.path.basename(li.path), li.num_documents(),
                sorted(map(tuple, li.metadata().df.collect())),
                sorted(map(tuple, li.index.doclens.collect())),
                sorted(map(tuple, li.search_batch(queries).collect())))

    cat = fresh("crashed")
    before = state(cat.open("ix"))
    real = index_store.write_centroids
    calls = []

    def crash(*a, **kw):
        # every snapshot hop writes its centroids after its tokens and
        # doc_stats and before its meta.json marker
        calls.append(1)
        if len(calls) == {"append": 1, "evict": 2}[crash_at]:
            raise RuntimeError("injected crash")
        real(*a, **kw)

    monkeypatch.setattr(index_store, "write_centroids", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(cat)
    monkeypatch.undo()

    root = os.path.join(str(tmp_path / "crashed"), "ix")
    assert not any(d.startswith(".") for d in os.listdir(root))
    assert state(cat.open("ix")) == before
    retried = state(run(cat))
    assert retried == state(run(fresh("clean")))
    assert retried[:2] == ("v1", 25)


def test_vacuum_keeps_serving_snapshot(catalog, spark, documents):
    import os

    cat = catalog
    toks = encode_documents(documents.limit(20))
    cat.create("vac", toks.filter(F.col("doc_id") < 10))
    li = cat.open("vac")
    li.update(toks.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 15)))
    li.update(toks.filter(F.col("doc_id") >= 15))
    removed = li.vacuum(keep_last=1)
    assert len(removed) == 2 and all(not os.path.exists(p) for p in removed)
    assert li.num_documents() == 20  # still serving the latest snapshot
    assert li.reload().num_documents() == 20
    cat.delete_index("vac")


def test_delete_index(catalog):
    assert catalog.delete_index("beta") is True
    assert catalog.list_indices() == ["alpha"]
    assert catalog.delete_index("beta") is False
