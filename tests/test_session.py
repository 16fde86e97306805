"""Pins on session-level Spark configs whose effect the perf work relies on.

The kernel-parallelism fix (r8) floors AQE partition coalescing at the core
count so tiny shuffle outputs don't collapse to ONE partition and serialize
every mapInPandas numpy kernel downstream. minPartitionNum is deprecated
since Spark 3.2 — these tests pin that the floor (via minPartitionNum today,
minPartitionSize=1b as the supported fallback) still takes effect, so an
upgrade that drops the knob fails loudly here instead of silently
serializing the kernels.

PySpark's DataFrame-debugging call-site capture is off: a search must not
walk the Python stack or send its py4j commands.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_dataframe_debugging_off(spark):
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_search_captures_no_call_site(spark, documents, tmp_path,
                                      monkeypatch):
    from pyspark.errors import utils

    from next_plaid_spark.encoding import encode_documents, encode_queries
    from next_plaid_spark.plans.builder import IndexBuilder
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    calls = []
    real = utils._capture_call_site

    def counting(depth):
        calls.append(depth)
        return real(depth)

    monkeypatch.setattr(utils, "_capture_call_site", counting)
    # the counter sees the captures that debugging makes
    monkeypatch.setattr(utils, "_enable_debugging_cache", True)
    F.col("x") + 1
    assert calls
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    calls.clear()

    docs = documents.filter(F.col("doc_id") < 30)
    idx = IndexBuilder(spark, nbits=4, seed=42).build(
        encode_documents(docs), str(tmp_path / "ix"))
    qt = encode_queries(docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"))
    assert BatchSearcher(idx, SearchParams(top_k=5)).search(qt).collect()
    assert calls == []


def test_aqe_floor_configs_set(spark):
    cpus = int(spark.sparkContext.defaultParallelism)
    assert int(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionNum")) == cpus
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1b"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_tiny_shuffle_keeps_core_count_partitions(spark):
    # a tiny groupBy output (a few KB) would coalesce to 1 partition under
    # default AQE; the floor must keep it at >= min(cores, shuffle parts)
    cpus = int(spark.sparkContext.defaultParallelism)
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = min(cpus, shuffle_parts)
    df = (spark.range(0, 100_000, 1, 16)
          .withColumn("k", F.col("id") % 1000)
          .groupBy("k").agg(F.count("*").alias("n")))
    n_parts = df.rdd.getNumPartitions()
    assert n_parts >= floor, (
        f"AQE coalesced a tiny shuffle to {n_parts} partitions "
        f"(floor {floor}) — numpy kernels downstream would serialize")
