"""LocalIndex — the reference's ``MmapIndex`` API surface (next-plaid
index.rs:995-1805) as a thin convenience wrapper over the Spark-native
parts (SURVEY §7 design stance: "a thin LocalIndex wrapper mirroring
MmapIndex's API names").

A user of the reference drives one object: create_with_kmeans → search /
search_batch → update* / delete* → reload, plus stats and raw-artifact
accessors. Here each mutation is a new immutable snapshot ``v0 → v1 → …``
under a root directory (the arc-swap hot-reload analog, state.rs:31-47 —
same scheme as streaming/ingest.py, whose ``foreachBatch`` sink is the
streaming face of this object), and ``reload()`` re-points at the latest
complete version. All heavy lifting stays in the existing operators; this
class only adapts names and manages snapshot paths — DataFrames in,
DataFrames out.

Method parity map (reference → here):
- load / create_with_kmeans        index.rs:1026,1392
- search / search_batch            index.rs:1258,1279 (both are one
                                   query-DataFrame job; search is the
                                   single-query convenience)
- num_documents/num_embeddings/num_partitions/avg_doclen/embedding_dim
                                   index.rs:1290-1314
- get_candidates                   index.rs:1142 (cells → doc ids, a
                                   filter on the per-doc code lists)
- get_document_codes               index.rs:1182
- reconstruct / reconstruct_single / decompress_documents
                                   index.rs:1197,1354,1369
- update / update_append / update_or_create / *_with_metadata
                                   index.rs:1431-1766
- delete / delete_with_options     index.rs:1788-1848
- reload                           index.rs:1767
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from next_plaid_spark.session import local_df
from next_plaid_spark.filtering import MetadataStore
from next_plaid_spark.operators.update import delete_from_index, update_index
from next_plaid_spark.plans.builder import IndexBuilder
from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams
from next_plaid_spark.sources.index_store import PlaidIndex
from next_plaid_spark.streaming.ingest import _versions


class LocalIndex:
    """One-object driver API over versioned PlaidIndex snapshots."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._index: PlaidIndex | None = None
        self._searcher: BatchSearcher | None = None
        self.reload()

    # -- lifecycle ----------------------------------------------------------
    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LocalIndex":
        idx = cls(spark, root)
        if idx._index is None:
            raise FileNotFoundError(f"no index snapshot under {root}")
        return idx

    @classmethod
    def create_with_kmeans(cls, spark: SparkSession, doc_tokens: DataFrame,
                           root: str, *, nbits: int = 4, seed: int = 42,
                           metadata: DataFrame | None = None) -> "LocalIndex":
        """index.rs:1392 — build v0 from a (doc_id, token_idx, vec) frame."""
        path = os.path.join(root, "v0")
        IndexBuilder(spark, nbits=nbits, seed=seed).build(doc_tokens, path)
        if metadata is not None:
            metadata.write.parquet(os.path.join(path, "metadata.parquet"))
        return cls(spark, root)

    def reload(self) -> "LocalIndex":
        """index.rs:1767 — re-point at the latest complete snapshot."""
        vs = _versions(self.root)
        if vs:
            self._index = PlaidIndex.load(
                self.spark, os.path.join(self.root, f"v{vs[-1]}")
            )
            self._searcher = None
        return self

    @property
    def index(self) -> PlaidIndex:
        if self._index is None:
            raise FileNotFoundError(f"no index snapshot under {self.root}")
        return self._index

    @property
    def path(self) -> str:
        return self.index.path

    def _next_path(self) -> str:
        vs = _versions(self.root)
        return os.path.join(self.root, f"v{(vs[-1] + 1) if vs else 0}")

    # -- stats (index.rs:1290-1314) ----------------------------------------
    def num_documents(self) -> int:
        return self.index.meta.num_documents

    def num_embeddings(self) -> int:
        return self.index.meta.num_embeddings

    def num_partitions(self) -> int:
        return self.index.meta.k

    def avg_doclen(self) -> float:
        return self.index.meta.avg_doclen

    def embedding_dim(self) -> int:
        return self.index.meta.dim

    # -- search (index.rs:1258-1287) ---------------------------------------
    def searcher(self, params: SearchParams | None = None) -> BatchSearcher:
        if params is not None:
            return BatchSearcher(self.index, params)
        if self._searcher is None:
            self._searcher = BatchSearcher(self.index)
        return self._searcher

    def search_batch(self, query_tokens: DataFrame,
                     params: SearchParams | None = None, *,
                     subset: DataFrame | None = None) -> DataFrame:
        """(query_id, token_idx, vec) → (query_id, doc_id, score, rank)."""
        return self.searcher(params).search(query_tokens, subset=subset)

    def search(self, query: "np.ndarray", params: SearchParams | None = None,
               *, subset: DataFrame | None = None) -> DataFrame:
        """Single query as a [tokens, dim] array — the reference's
        ``search`` signature; runs the same one-job batch plan. Rejects a
        wrong embedding dimension eagerly, like the API's
        dimension-mismatch 400 (next-plaid-api integration tests;
        handlers/search.rs)."""
        q = np.asarray(query, dtype=float)
        if q.ndim != 2:
            raise ValueError(f"query must be [tokens, dim], got shape {q.shape}")
        if q.shape[1] != self.embedding_dim():
            raise ValueError(
                f"query dimension {q.shape[1]} does not match index "
                f"dimension {self.embedding_dim()}"
            )
        rows = [(0, i, [float(x) for x in v]) for i, v in enumerate(q)]
        qt = local_df(
            self.spark, rows, "query_id long, token_idx int, vec array<double>"
        )
        return self.search_batch(qt, params, subset=subset).drop("query_id")

    # -- raw-artifact access -----------------------------------------------
    def get_candidates(self, centroid_indices: Sequence[int]) -> list[int]:
        """index.rs:1142 — union of the IVF lists for the given cells
        (doc_id is unique per doc, so no dedup)."""
        rows = (
            self.index.docs_in_cells(centroid_indices)
            .select("doc_id").orderBy("doc_id").collect()
        )
        return [r.doc_id for r in rows]

    def get_document_codes(self, doc_ids: Sequence[int]) -> DataFrame:
        """index.rs:1182 — (doc_id, codes array) for the given docs."""
        ids = [int(d) for d in doc_ids]
        return self.index.doc_codes.filter(F.col("doc_id").isin(ids))

    def reconstruct(self, doc_ids: Sequence[int] | DataFrame) -> DataFrame:
        """index.rs:1354 — decompressed (doc_id, token_idx, vec)."""
        from next_plaid_spark.operators.rerank import reconstruct_embeddings

        if not isinstance(doc_ids, DataFrame):
            doc_ids = [int(d) for d in doc_ids]
        return reconstruct_embeddings(self.index, doc_ids)

    # index.rs:1197 — same decompress path
    decompress_documents = reconstruct

    def reconstruct_single(self, doc_id: int) -> "np.ndarray":
        """index.rs:1369 — one doc's embeddings as a [tokens, dim] array."""
        rows = self.reconstruct([doc_id]).orderBy("token_idx").collect()
        return np.asarray([r.vec for r in rows], dtype=np.float32)

    # -- metadata (F-ops; SQLite → parquet columns) ------------------------
    def metadata(self) -> MetadataStore | None:
        p = os.path.join(self.index.path, "metadata.parquet")
        if not os.path.isdir(p):
            return None
        return MetadataStore(self.spark.read.parquet(p))

    def _write_meta(self, out_path: str, metadata: DataFrame | None,
                    *, drop_ids: DataFrame | None = None) -> None:
        cur = self.metadata()
        parts = [] if cur is None else [cur.df]
        if metadata is not None:
            parts.append(metadata)
        if not parts:
            return
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra, allowMissingColumns=True)
        if drop_ids is not None:
            df = df.join(drop_ids, "doc_id", "left_anti")
        df.write.mode("overwrite").parquet(
            os.path.join(out_path, "metadata.parquet"))

    # -- update / delete (index.rs:1431-1848) ------------------------------
    def update(self, new_doc_tokens: DataFrame, *,
               full_rebuild_tokens: DataFrame | None = None,
               metadata: DataFrame | None = None,
               seed: int = 42) -> "LocalIndex":
        """U1 dispatcher: rebuild / buffer-append / expand+append, then
        snapshot-advance (index.rs:1431). The metadata lands first: the
        snapshot's meta.json marks ``out`` complete, so a crash between the
        two writes must leave it incomplete, never metadata-less.

        An append past the persisted ``max_documents`` cap evicts the
        oldest docs (handlers/documents.rs:500-528) within the same
        version: the append is staged in a hidden sibling dir that no
        reader lists, and the eviction's snapshot of it becomes the next
        version. A crash at any write leaves the previous version the
        latest, and a retry writes the version an uncrashed call would."""
        out = self._next_path()
        cap = self.get_config().get("max_documents")
        if cap is not None and self.num_documents() + new_doc_tokens.select(
                "doc_id").distinct().count() > int(cap):
            return self._update_evicting(
                new_doc_tokens, out, int(cap),
                full_rebuild_tokens=full_rebuild_tokens, metadata=metadata,
                seed=seed)
        self._write_meta(out, metadata)
        update_index(self.spark, self.index, new_doc_tokens, out,
                     full_rebuild_tokens=full_rebuild_tokens, seed=seed)
        self.reload()
        return self

    def _update_evicting(self, new_doc_tokens: DataFrame, out: str,
                         cap: int, *, full_rebuild_tokens: DataFrame | None,
                         metadata: DataFrame | None,
                         seed: int) -> "LocalIndex":
        """``update`` past the cap: append into a staging dir, then evict
        from it into ``out``; the staging dir and its catalog table go
        whether or not that succeeds."""
        import shutil

        from next_plaid_spark.sources.index_store import bucket_table_name

        stage = os.path.join(self.root, f".{os.path.basename(out)}.pre-evict")
        shutil.rmtree(stage, ignore_errors=True)
        try:
            self._write_meta(stage, metadata)
            self._index = update_index(
                self.spark, self.index, new_doc_tokens, stage,
                full_rebuild_tokens=full_rebuild_tokens, seed=seed)
            # delete_with_options writes the next version, ``out``
            self.delete_with_options(self._oldest(cap))
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {bucket_table_name(stage)}")
            shutil.rmtree(stage, ignore_errors=True)
            self.reload()
        return self

    # index.rs:1604/1675 — same dispatcher, explicit names kept for parity
    def update_with_metadata(self, new_doc_tokens: DataFrame,
                             metadata: DataFrame, **kw) -> "LocalIndex":
        return self.update(new_doc_tokens, metadata=metadata, **kw)

    update_append = update

    @classmethod
    def update_or_create(cls, spark: SparkSession, doc_tokens: DataFrame,
                         root: str, *, nbits: int = 4, seed: int = 42,
                         metadata: DataFrame | None = None) -> "LocalIndex":
        """index.rs:1644 — append if an index exists under root, else
        create v0."""
        if _versions(root):
            return cls.load(spark, root).update(
                doc_tokens, metadata=metadata, seed=seed
            )
        return cls.create_with_kmeans(
            spark, doc_tokens, root, nbits=nbits, seed=seed, metadata=metadata
        )

    update_or_create_with_metadata = update_or_create

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Snapshot lifecycle: every update/delete writes a new immutable
        ``vN`` (readers hot-swap via reload), so long-lived indexes
        accumulate versions. Drop all but the newest ``keep_last``
        snapshots; returns the removed paths. Never touches the snapshot
        this object currently serves."""
        import shutil

        vs = _versions(self.root)
        keep = max(1, int(keep_last))
        removed = []
        current = self.index.path
        for v in vs[:-keep]:
            p = os.path.join(self.root, f"v{v}")
            if os.path.abspath(p) == os.path.abspath(current):
                continue
            shutil.rmtree(p)
            removed.append(p)
        return removed

    # -- config + eviction (the API layer's max_documents policy:
    # handlers/documents.rs:500-560 + evict_oldest_documents:631-660) ------
    def _config_path(self) -> str:
        return os.path.join(self.root, "config.json")

    def get_config(self) -> dict:
        import json

        if os.path.exists(self._config_path()):
            with open(self._config_path()) as f:
                return json.load(f)
        return {}

    def set_config(self, **updates) -> dict:
        """PUT /indices/{name}/config analog — merge + persist. Only
        ``max_documents`` is meaningful today, like the reference."""
        import json

        cfg = self.get_config()
        cfg.update({k: v for k, v in updates.items()})
        with open(self._config_path(), "w") as f:
            json.dump(cfg, f)
        return cfg

    def evict_oldest(self, max_documents: int) -> int:
        """evict_oldest_documents parity: when over the cap, drop the
        lowest doc_ids (the oldest — ids are assigned in arrival order)
        into a new snapshot. Returns the eviction count."""
        ids = self._oldest(max_documents)
        return self.delete_with_options(ids) if ids else 0

    def _oldest(self, max_documents: int) -> list[int]:
        """The lowest doc_ids past ``max_documents`` (none when under it)."""
        over = self.num_documents() - max_documents
        if over <= 0:
            return []
        return [
            r.doc_id
            for r in self.index.doclens.select("doc_id")
            .orderBy("doc_id").limit(over).collect()
        ]

    def delete(self, doc_ids: Sequence[int]) -> int:
        return self.delete_with_options(doc_ids, delete_metadata=True)

    def delete_with_options(self, doc_ids: Sequence[int],
                            delete_metadata: bool = True) -> int:
        """index.rs:1805 — drop docs into a new snapshot; returns the
        number of documents removed. Metadata first, as in ``update``."""
        ids = [int(d) for d in doc_ids]
        before = self.num_documents()
        out = self._next_path()
        drop = local_df(
            self.spark, [(i,) for i in ids], "doc_id long"
        ) if delete_metadata else None
        self._write_meta(out, None, drop_ids=drop)
        delete_from_index(self.spark, self.index, ids, out)
        self.reload()
        return before - self.num_documents()

    # -- *_with_encoding surfaces (handlers/search.rs search_with_encoding,
    # handlers/rerank.rs rerank_with_encoding): text in, results out — the
    # encode stage runs inside the same job via the synthetic JVM encoder
    # by default, or any model callable through operators/encode_udf.

    def search_text(self, texts: Sequence[str],
                    params: "SearchParams | None" = None, *,
                    subset: "DataFrame | None" = None,
                    encoder=None) -> "DataFrame":
        """Batch text search: encode ``texts`` then run the funnel.
        ``encoder`` overrides the default deterministic JVM encoder with a
        model-backed mapInPandas seam (operators/encode_udf)."""
        from next_plaid_spark.encoding import encode_queries

        qdf = local_df(
            self.spark, [(i, t) for i, t in enumerate(texts)],
            "query_id long, text string",
        )
        qt = encoder(qdf) if encoder is not None else encode_queries(qdf)
        return self.search_batch(qt, params, subset=subset)

    def rerank_text(self, query_text: str, doc_ids: Sequence[int],
                    params: "SearchParams | None" = None,
                    encoder=None) -> "DataFrame":
        """rerank_with_encoding: encode one query text, exact-MaxSim the
        given docs via their reconstructed embeddings (B11 path)."""
        from next_plaid_spark.encoding import encode_queries
        from next_plaid_spark.operators.rerank import rerank

        qdf = local_df(
            self.spark, [(0, query_text)], "query_id long, text string"
        )
        qt = encoder(qdf) if encoder is not None else encode_queries(qdf)
        recon = self.reconstruct(list(doc_ids)).select(
            "doc_id", "token_idx", F.col("vec")
        )
        pairs = local_df(
            self.spark, [(0, int(d)) for d in doc_ids],
            "query_id long, doc_id long"
        )
        return rerank(qt, recon, pairs=pairs)
