"""Python↔JVM round trips: every store read states the schema its writer
wrote (a schema-less parquet read runs a footer-inference job), loading an
index runs no job, and the search funnel broadcasts its survivor set once
without caching it."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.operators import bm25, code_index
from next_plaid_spark.operators.bm25 import BM25Index
from next_plaid_spark.operators.code_index import CodeIndex
from next_plaid_spark.sources import index_store
from next_plaid_spark.sources.index_store import PlaidIndex

_FILES = [
    ("src/retry.py", '''\
def retry_request(fn, attempts):
    """Retry helper with exponential backoff."""
    for i in range(attempts):
        fn()


def backoff_delay(attempt):
    """Delay in seconds before the next retry."""
    return 2 ** attempt
'''),
    ("src/cache.py", '''\
class LruCache:
    """Bounded LRU cache."""

    def get(self, key):
        return self.entries.get(key)

    def put(self, key, value):
        self.entries[key] = value
'''),
]


@pytest.fixture(scope="module")
def ci(spark, tmp_path_factory):
    files = spark.createDataFrame(_FILES, "path string, content string")
    return CodeIndex.build(files, str(tmp_path_factory.mktemp("rt") / "ci"))


@pytest.fixture(scope="module")
def bm25_positions(spark, documents, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rt_bm25") / "bm25")
    BM25Index.build(documents.limit(20), with_positions=True).save(path)
    return path


def _fields(schema):
    """(name, type) per column: nullability ignored, nested included."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_declared_schemas_match_written_stores(spark, ci, bm25_positions):
    stores = [
        ("plaid/tokens_bucketed", index_store.TOKEN_SCHEMA),
        ("plaid/doc_stats", index_store.DOC_STATS_SCHEMA),
        ("plaid/centroids", index_store.CENTROIDS_SCHEMA),
        ("bm25/postings", bm25.POSTINGS_SCHEMA),
        ("bm25/doclens", bm25.DOCLENS_SCHEMA),
        ("bm25/term_stats", bm25.TERM_STATS_SCHEMA),
        ("units", code_index.UNITS_SCHEMA),
        ("files", code_index.FILES_STATE_SCHEMA),
    ]
    dirs = [(os.path.join(ci.path, d), s) for d, s in stores]
    dirs.append((os.path.join(bm25_positions, "positions"),
                 bm25.POSITIONS_SCHEMA))
    for d, ddl in dirs:
        declared = spark.createDataFrame([], ddl).schema
        assert _fields(declared) == _fields(spark.read.parquet(d).schema), d


def test_loads_launch_no_job(spark, ci):
    sc = spark.sparkContext
    sc.setJobGroup("rt-load", "index loads")
    try:
        PlaidIndex.load(spark, os.path.join(ci.path, "plaid")).doc_codes
        BM25Index.load(spark, os.path.join(ci.path, "bm25"))
        loaded = CodeIndex.load(spark, ci.path)
        assert loaded.units is loaded.units
        assert loaded.files is loaded.files
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert list(sc.statusTracker().getJobIdsForGroup("rt-load")) == []


def test_funnel_broadcasts_survivors_once_uncached(spark, ci):
    from next_plaid_spark.encoding import encode_queries
    from next_plaid_spark.plans.searcher import BatchSearcher
    from tools.plan_audit import plan_of, survivor_nodes

    qt = encode_queries(
        spark.createDataFrame([(0, "retry with backoff")],
                              "query_id long, text string"),
        dim=ci.meta["dim"], max_tokens=ci.meta["query_max_tokens"])
    subset = ci.units.filter(F.col("file") == "src/retry.py").select(
        F.col("unit_id").alias("doc_id"))
    searcher = BatchSearcher(ci.plaid)
    for sub in (None, subset):
        df = searcher.search(qt, subset=sub)
        plan = plan_of(df)
        assert survivor_nodes(plan, "BroadcastExchange") == 1
        assert survivor_nodes(plan, "InMemoryRelation") == 0
        assert df.collect()
        searcher.release()
