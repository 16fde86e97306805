"""Batch PLAID index build as a DataFrame pipeline — SURVEY.md §3.3.

The reference factors its build into prepare (train small models on a
sample, driver) / encode (pure map over chunks, executors) / write (reduce
to IVF + metadata) — ``prepare_codec_artifacts`` / ``encode_index_chunk`` /
``write_index_from_encoded_chunks`` (next-plaid/src/index.rs:182-528). That
seam *is* driver-coordinated map-reduce, and this builder follows it:

  1. stats + K heuristic            (one agg)                 — B2
  2. sample → Lloyd's k-means       (driver, seeded)          — B1/B3
  3. codec training quantiles       (driver, bounded sample)  — B5
  4. assign + quantize              (mapInPandas, one pass)   — B4/B6/B10
  5. tokens + doc_stats write       (bucketed, Parquet)       — B9/S1

Scale notes: steps 2-3 touch bounded samples regardless of corpus size; step
4 is embarrassingly parallel (one GEMM per Arrow batch, centroids shipped
once per executor); step 5's one all-data shuffle is the bucketed token
write's (doc_id): one bucket per ``tiered.TOKENS_PER_BUCKET`` tokens
(``bucket_tokens`` at most), one file per bucket, written by at most one
task per core. The doc_stats groupBy then reuses the bucket spec, and its
per-doc rows are sized by their count (one file per
``tiered.ROWS_PER_FILE`` docs), not by the bucket count. Updates grow the
bucket count with the tokens, in doublings up to the same cap
(``operators/update.py``). No inverted file is written (B8): candidacy
filters ``doc_stats.codes``.
Broadcast assignment holds to K≈1M (512 MB at dim=128 f32); past that,
assignment becomes an LSH-bucketed join against a centroids table — hook
left in assign_codes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from next_plaid_spark.operators.codec import (
    assign_and_quantize,
    train_codec_from_tokens,
)
from next_plaid_spark.operators.kmeans import estimate_k, train_kmeans
from next_plaid_spark.sources.index_store import IndexMeta, PlaidIndex, write_index


class IndexBuilder:
    # driver-sample ceiling for the coarse-quantizer trainer; beyond it the
    # "auto" strategy switches to the fully distributed pyspark.ml path.
    # The binding limit is driver MEMORY, not a row count, so the effective
    # cap is derived from a byte budget over the actual vector width
    # (``_driver_sample_cap``); this flat row count is only its floor.
    # r14 measurement behind the change: the sf0.1 code corpus
    # (~300k narrow dim-16 tokens, ~33 MB as f64) tripped the flat cap and
    # paid ~190 s of executor time in MLlib k-means‖ for a sample the
    # driver Lloyd's trains in seconds; a 100 TB-shaped corpus
    # (budget ≫ the byte cap at any width) still routes to 'distributed'.
    KMEANS_DRIVER_SAMPLE_CAP = 262_144
    KMEANS_DRIVER_SAMPLE_BYTES = 256 * 1024 * 1024

    @classmethod
    def _driver_sample_cap(cls, dim: int) -> int:
        """Row cap for the driver-side trainer sample: the byte budget
        (env ``SPARK_GRAFT_KMEANS_SAMPLE_MB`` overrides, for clusters with
        bigger/smaller drivers) over the f64 collect width, floored at the
        historical flat cap so wide-vector corpora keep their behavior."""
        import os

        mb = os.environ.get("SPARK_GRAFT_KMEANS_SAMPLE_MB")
        budget = (int(mb) * 1024 * 1024 if mb else cls.KMEANS_DRIVER_SAMPLE_BYTES)
        return max(cls.KMEANS_DRIVER_SAMPLE_CAP, budget // (max(dim, 1) * 8))

    def __init__(self, spark: SparkSession, *, nbits: int = 4, seed: int = 42,
                 k: int | None = None, kmeans_iters: int = 4,
                 kmeans_strategy: str = "auto",
                 bucket_tokens: int = 32):
        """kmeans_strategy:
        'sample' — reference parity: seeded bounded sample → driver Lloyd's
        (deterministic, matches kmeans.rs:261-422's shape).
        'distributed' — pyspark.ml k-means|| over ALL tokens (no driver
        sample; the 100 TB path — recall-gated, not bit-reproducible).
        'auto' — 'sample' while the reference's sample-size law
        (1+16·√(120·n_docs) docs) fits the driver cap, else 'distributed'."""
        if kmeans_strategy not in ("auto", "sample", "distributed"):
            raise ValueError(f"unknown kmeans_strategy: {kmeans_strategy!r}")
        self.spark = spark
        self.nbits = nbits
        self.seed = seed
        self.k = k
        self.kmeans_iters = kmeans_iters
        self.kmeans_strategy = kmeans_strategy
        # most buckets of the doc_id-bucketed token table (shuffle-free
        # per-doc consumers); the build writes one per
        # tiered.TOKENS_PER_BUCKET tokens up to it (write_index)
        self.bucket_tokens = bucket_tokens

    def build(self, doc_tokens: DataFrame, path: str) -> PlaidIndex:
        """doc_tokens(doc_id, token_idx, vec) → persisted PlaidIndex."""
        # When the caller already persisted the token frame (the bench's
        # shared sidecar cache, a streaming batch's cached delta), a second
        # InMemoryRelation over a trivial projection of the first doubles
        # the storage write and memory for zero reuse benefit — the
        # projection consumers read through the caller's cache just as
        # fast. Only cache here when the input carries no storage level.
        lvl = doc_tokens.storageLevel
        src_cached = bool(lvl.useMemory or lvl.useDisk)
        doc_tokens = doc_tokens.select(
            F.col("doc_id").cast("long"),
            F.col("token_idx").cast("int"),
            F.col("vec"),
        )
        if not src_cached:
            doc_tokens = doc_tokens.cache()
        stats = doc_tokens.agg(
            F.count("*").alias("n"), F.countDistinct("doc_id").alias("d"),
            F.max(F.size("vec")).alias("dim"),
        ).collect()[0]
        n_tokens, n_docs, vec_dim = stats.n, stats.d, int(stats.dim or 1)

        from next_plaid_spark.operators.kmeans import (
            sample_token_budget, train_kmeans_distributed)

        strategy = self.kmeans_strategy
        if strategy == "auto":
            budget = sample_token_budget(n_docs, n_tokens / max(n_docs, 1))
            strategy = ("sample" if budget <= self._driver_sample_cap(vec_dim)
                        else "distributed")
        if strategy == "distributed":
            model = train_kmeans_distributed(
                doc_tokens, k=self.k or estimate_k(n_tokens),
                seed=self.seed, iters=self.kmeans_iters,
            )
        else:
            model = train_kmeans(
                doc_tokens, k=self.k or estimate_k(n_tokens),
                seed=self.seed, iters=self.kmeans_iters,
                n_tokens=n_tokens, n_docs=n_docs,
            )
        # codec trains on a pre-assigned sample (same seeded row set as
        # sampling a fully-coded corpus); assign+quantize then run fused in
        # a single Arrow pass — the corpus is touched exactly twice total
        # (cache fill + fused encode), never materialized in coded form
        codec = train_codec_from_tokens(
            doc_tokens, model.centroids,
            nbits=self.nbits, seed=self.seed, n_rows=n_tokens,
        )
        tokens_out = assign_and_quantize(doc_tokens, model.centroids, codec)

        meta = IndexMeta(
            k=model.k, dim=model.dim, nbits=self.nbits,
            num_documents=n_docs, num_embeddings=n_tokens,
            avg_doclen=n_tokens / max(n_docs, 1), codec=codec,
        )
        idx = write_index(
            self.spark, path, tokens_coded=tokens_out,
            centroids=model.centroids, meta=meta,
            bucket_tokens=self.bucket_tokens,
        )
        if not src_cached:
            doc_tokens.unpersist()
        return idx
