"""Index persistence — the Spark analog of the reference's NPY artifact
directory (SURVEY.md §1.2, next-plaid/src/index.rs:551-911).

One index = one directory of Parquet tables + a JSON sidecar, in one
format:

    <path>/tokens_bucketed/  doc_id, token_idx, code, residual  (the
                             corpus; a ``bucketBy(n, doc_id)`` table, one
                             file per bucket)
    <path>/centroids/        code, vec                           (small)
    <path>/doc_stats/        doc_id, num_tokens, codes  (doclens + codes.npy
                             analogs from one groupBy; readers column-prune;
                             one file per ``tiered.ROWS_PER_FILE`` docs)
    <path>/meta.json         k, dim, nbits, codec artifacts, counts, the
                             bucket table name + bucket count (written
                             last: the snapshot's commit marker)

Each table is sized by its rows. A build's token table has one bucket per
``tiered.TOKENS_PER_BUCKET`` tokens, ``bucket_tokens`` at most (so a
corpus under 131,072 tokens has one bucket, and the default cap of 32
binds from 32·65,536 tokens up); every bucket's rows land in one write
task, at most one task per core. The per-doc ``doc_stats`` has one file per
``tiered.ROWS_PER_FILE`` docs, as every update hop sizes it. Updates keep
the snapshot's bucket count (``meta.n_buckets``) until the token count asks
for twice as many, up to the build's cap (``meta.bucket_cap``); that hop
re-buckets the whole table (``update_index_delta``).

The token files are registered as a session catalog table, so per-doc
groupBys/joins read the bucket spec instead of shuffling the corpus; a
session without the table reads the same files as plain parquet.

No inverted file is stored: a doc is in cell c's IVF list exactly when c
is in its ``codes``, so search candidacy is a filter on ``doc_stats``
(``arrays_overlap``) and the NPY exporter derives ``ivf.npy`` from it.

Differences from the reference by design: no 50k-doc chunking (Spark
partitioning replaces it), no embedding_offset bookkeeping (joins on doc_id
replace pointer arithmetic), no mmap merge step (S3 — multi-file Parquet
reads natively). Table writes commit through Spark's job commit protocol;
``meta.json`` through a temp-file rename (utils.rs:16,
``tiered.write_marker``).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from next_plaid_spark.session import local_df, run_concurrently
from next_plaid_spark.operators.codec import CodecArtifacts
from next_plaid_spark.sources import tiered

#: the token table's columns — the catalog-less read states them, since a
#: snapshot whose every doc was deleted has no token file to infer them from
TOKEN_SCHEMA = "doc_id long, token_idx int, code long, residual binary"
#: the ``doc_stats`` and ``centroids`` columns. Every read of a table the
#: engine wrote states its schema: a schema-less read runs a one-task
#: footer-inference job first
DOC_STATS_SCHEMA = "doc_id long, num_tokens long, codes array<bigint>"
CENTROIDS_SCHEMA = "code long, vec array<float>"


def bucket_table_name(path: str) -> str:
    """The session catalog name of the token table of the index at ``path``."""
    return "nps_tokens_" + hashlib.md5(
        os.path.abspath(path).encode()).hexdigest()[:12]


@dataclass
class IndexMeta:
    k: int
    dim: int
    nbits: int
    num_documents: int
    num_embeddings: int
    avg_doclen: float
    codec: CodecArtifacts
    # the token table's catalog name + bucket count, set by the snapshot
    # writer (write_index / update_index_delta), and the build's
    # ``bucket_tokens`` cap, which every later snapshot keeps: updates
    # re-bucket up to it and rebuilds build at it
    bucket_table: str | None = None
    n_buckets: int | None = None
    bucket_cap: int | None = None

    def to_json(self) -> str:
        return json.dumps({
            "k": self.k,
            "dim": self.dim,
            "nbits": self.nbits,
            "num_documents": self.num_documents,
            "num_embeddings": self.num_embeddings,
            "avg_doclen": self.avg_doclen,
            "codec": self.codec.to_dict(),
            "next_plaid_spark_version": 1,
            "bucket_table": self.bucket_table,
            "n_buckets": self.n_buckets,
            "bucket_cap": self.bucket_cap,
        })

    @classmethod
    def from_json(cls, s: str) -> "IndexMeta":
        d = json.loads(s)
        if not d.get("n_buckets"):
            raise ValueError(
                "index snapshot predates the single doc_id-bucketed token "
                "format (its meta.json has no bucket_table/n_buckets); "
                "rebuild it with IndexBuilder")
        return cls(
            k=d["k"], dim=d["dim"], nbits=d["nbits"],
            num_documents=d["num_documents"], num_embeddings=d["num_embeddings"],
            avg_doclen=d["avg_doclen"], codec=CodecArtifacts.from_dict(d["codec"]),
            bucket_table=d["bucket_table"], n_buckets=d["n_buckets"],
            # a snapshot written before the cap was recorded has exactly
            # its cap's bucket count
            bucket_cap=d.get("bucket_cap") or d["n_buckets"],
        )


class PlaidIndex:
    """Handle over a persisted index (load side of MmapIndex,
    index.rs:995-1139 — reborn as lazily-read Parquet tables)."""

    def __init__(self, spark: SparkSession, path: str, meta: IndexMeta):
        self.spark = spark
        self.path = path
        self.meta = meta
        # per-instance memos: a snapshot's dirs are immutable once the
        # PlaidIndex over them exists (updates/deletes/evictions always
        # write a NEW snapshot dir and return a NEW handle), so each dir's
        # lazy frame is built once (plan reuse only: every action still
        # scans the parquet files). Every read states its table's schema,
        # so building a frame lists files but runs no job. The
        # catalog-table branch of `tokens` is NOT memoized — catalog state
        # is session-mutable and the lookup runs no job.
        self._df_memo: dict = {}
        self._centroids_memo = None

    def _read_memo(self, key: str, path: str, schema: str) -> DataFrame:
        df = self._df_memo.get(key)
        if df is None:
            df = self.spark.read.schema(schema).parquet(path)
            self._df_memo[key] = df
        return df

    # -- tables ------------------------------------------------------------
    @property
    def tokens(self) -> DataFrame:
        bt = self.meta.bucket_table
        if self.spark.catalog.tableExists(bt):
            # bucketed catalog table: groupBy(doc_id)/join(doc_id) read the
            # bucket spec and skip the shuffle entirely
            return self.spark.table(bt)
        # bucketed FILES from another session (in-memory catalog lost the
        # table): still valid parquet, just without the bucket metadata —
        # a persistent metastore keeps it at cluster scale
        return self._read_memo(
            "tokens", os.path.join(self.path, "tokens_bucketed"), TOKEN_SCHEMA)

    @property
    def centroids_df(self) -> DataFrame:
        return self._read_memo("centroids", os.path.join(self.path, "centroids"),
                               CENTROIDS_SCHEMA)

    @property
    def _doc_stats(self) -> DataFrame:
        return self._read_memo("doc_stats", os.path.join(self.path, "doc_stats"),
                               DOC_STATS_SCHEMA)

    @property
    def doclens(self) -> DataFrame:
        # Parquet column pruning: the codes arrays are never scanned
        return self._doc_stats.select("doc_id", "num_tokens")

    @property
    def doc_codes(self) -> DataFrame:
        """(doc_id, codes ARRAY<BIGINT>) — each doc's distinct sorted codes,
        the Spark analog of the reference's per-doc contiguous codes.npy
        rows (index.rs:812-818 + doclens offsets). Precomputed at write
        time (one shared groupBy with doclens in ``doc_stats``) so the
        search-side codes-only stage is a read + filter, not a
        per-query-batch corpus aggregation."""
        return self._doc_stats.select("doc_id", "codes")

    def docs_in_cells(self, cells) -> DataFrame:
        """``doc_codes`` of the docs holding any of ``cells``: the union of
        those cells' IVF lists (a doc is in cell c's list exactly when c is
        in its codes) as one narrow filter. The cells ride as one SQL
        literal; a Column literal per cell would cost a py4j call each."""
        arr = ",".join(str(int(c)) for c in cells)
        return self.doc_codes.filter(F.expr(
            f"arrays_overlap(codes, CAST(array({arr}) AS ARRAY<BIGINT>))"))

    def centroids_np(self) -> np.ndarray:
        # collected once per handle (the reference mmaps centroids at index
        # load and keeps them resident; K·dim floats is load-time metadata).
        # The sort moved driver-side: `orderBy("code").collect()` on this
        # tiny frame cost 3 Spark jobs (range-partitioner sampling, sort
        # shuffle, result) per call — codes are unique ints, so a Python
        # sort is value-identical for 1 job.
        if self._centroids_memo is None:
            rows = sorted(self.centroids_df.collect(), key=lambda r: r.code)
            self._centroids_memo = np.asarray(
                [r.vec for r in rows], dtype=np.float32)
        return self._centroids_memo

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PlaidIndex":
        with open(os.path.join(path, "meta.json")) as f:
            meta = IndexMeta.from_json(f.read())
        return cls(spark, path, meta)


def write_index(
    spark: SparkSession,
    path: str,
    *,
    tokens_coded: DataFrame,
    centroids: np.ndarray,
    meta: IndexMeta,
    bucket_tokens: int = 32,
) -> PlaidIndex:
    os.makedirs(path, exist_ok=True)
    # the token table is sized by its rows: one bucket per
    # TOKENS_PER_BUCKET tokens, ``bucket_tokens`` at most
    n_buckets = tiered.n_buckets(meta.num_embeddings, bucket_tokens)
    bt = bucket_table_name(path)

    def _write_tokens() -> None:
        # doc_id-bucketed catalog table: ONE shuffle at write time buys
        # shuffle-free groupBy(doc_id)/join(doc_id) for every downstream
        # consumer (doc_stats build below, the rerank kernel's per-doc
        # packing, reconstruction). Data lives inside the index directory
        # (external table); the bucket METADATA lives in the session
        # catalog, so other sessions fall back to plain parquet reads of
        # the same files unless a persistent metastore carries it. An
        # in-place rebuild drops and overwrites both.
        spark.sql(f"DROP TABLE IF EXISTS {bt}")
        (
            # shuffle on the bucket column first: every bucket's rows then
            # land in one task, which writes ONE file per bucket — the
            # condition under which Spark's scan exposes the sortBy order
            # to sort-merge joins (multiple files per bucket force a corpus
            # re-sort above the scan), and it avoids the writers-x-buckets
            # small-file blowup; one write task per core, not per bucket
            tiered.bucket_shuffle(tokens_coded, n_buckets, F.col("doc_id"))
            .write.mode("overwrite")
            .option("path", os.path.join(path, "tokens_bucketed"))
            .bucketBy(n_buckets, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(bt)
        )

    # centroids are a driver-local table with no dependency on the token
    # write — overlap its (dispatch-dominated) job with the corpus-sized
    # tokens write (guide §2.6 overlap-independent-jobs)
    run_concurrently(spark, _write_tokens,
                     lambda: write_centroids(spark, path, centroids))
    meta.bucket_table = bt
    meta.n_buckets = n_buckets
    meta.bucket_cap = bucket_tokens

    # B9 doclens + the per-doc distinct sorted codes (codes.npy analog) in
    # ONE groupBy(doc_id) pass — no corpus shuffle: the bucket spec
    # satisfies the groupBy's distribution requirement; readers project
    # just the column they need (Parquet pruning), so doclens consumers
    # never touch the codes arrays. The aggregate (one row per doc) is
    # sized by its rows, like every update hop's write_doc_ranged: one
    # file per ROWS_PER_FILE docs, not one per bucket. A round-robin
    # repartition keeps the aggregate bucket-parallel (a coalesce would
    # fold it into the writing tasks) and evaluates it once (a range
    # repartition samples it first)
    (
        spark.table(bt).groupBy("doc_id")
        .agg(
            F.count("*").alias("num_tokens"),
            F.array_sort(F.collect_set("code")).alias("codes"),
        )
        .repartition(tiered.n_files(meta.num_documents))
        .write.mode("overwrite").parquet(os.path.join(path, "doc_stats"))
    )
    tiered.write_marker(os.path.join(path, "meta.json"), meta.to_json())
    return PlaidIndex(spark, path, meta)


def write_centroids(spark: SparkSession, path: str, centroids: np.ndarray) -> None:
    cdf = local_df(
        spark,
        [(int(i), [float(x) for x in row]) for i, row in enumerate(centroids)],
        CENTROIDS_SCHEMA,
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))

