"""Streaming ingest — S8's micro-batch queue reborn as Structured Streaming
``foreachBatch`` (SURVEY.md §1.1: the reference has no stateful streaming
semantics, only per-index mpsc batch queues —
next-plaid-api/src/handlers/documents.rs:223-430).

Each micro-batch of documents runs the same batch index-delta job
(operators/update.py); index snapshots advance ``v0 → v1 → …`` under a root
directory, and readers always load the latest complete version (the
arc-swap hot-reload analog, state.rs:31-47). The post-stream invariant —
streamed index ≡ batch rebuild of the same corpus — mirrors the reference's
metadata_sync_test.rs:54-300.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from next_plaid_spark.encoding import encode_documents
from next_plaid_spark.operators.update import update_index
from next_plaid_spark.sources.index_store import PlaidIndex


def _versions(root: str, exclude: int | None = None) -> list[int]:
    """Complete snapshot versions. Every snapshot writer writes
    meta.json LAST and atomically (``tiered.write_marker``: temp name,
    then ``os.replace``), so its presence marks completeness.
    ``exclude`` drops the in-flight batch's own snapshot — a replayed
    batch must never base itself on its prior attempt's output."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        m = re.fullmatch(r"v(\d+)", name)
        if (m and int(m.group(1)) != exclude
                and os.path.exists(os.path.join(root, name, "meta.json"))):
            out.append(int(m.group(1)))
    return sorted(out)


def latest_index(spark: SparkSession, root: str) -> PlaidIndex | None:
    vs = _versions(root)
    if not vs:
        return None
    return PlaidIndex.load(spark, os.path.join(root, f"v{vs[-1]}"))


class StreamingIndexWriter:
    """foreachBatch sink: documents stream → versioned index snapshots."""

    def __init__(self, spark: SparkSession, root: str, *, dim: int = 16,
                 nbits: int = 4, seed: int = 42,
                 bucket_tokens: int = 32,
                 retain: int | None = None):
        self.spark = spark
        self.root = root
        self.dim = dim
        self.nbits = nbits
        self.seed = seed
        self.bucket_tokens = bucket_tokens
        # snapshots to keep on disk (None = all). Replay needs the
        # predecessor of the newest, so the floor is 2.
        self.retain = max(retain, 2) if retain is not None else None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        if batch_df.isEmpty():
            return
        tokens = encode_documents(batch_df, dim=self.dim)
        # replay-exact (r13): the snapshot is named by BATCH id and the
        # base index is the newest snapshot EXCLUDING it. The r12 form
        # (name = max+1, base = newest) made a replayed batch ingest
        # itself twice: its prior attempt's snapshot became the base and
        # a fresh version was stacked on top.
        vs = _versions(self.root, exclude=batch_id)
        current = (
            PlaidIndex.load(self.spark, os.path.join(self.root, f"v{vs[-1]}"))
            if vs else None
        )
        out = os.path.join(self.root, f"v{batch_id}")
        if os.path.isdir(out):  # prior-attempt taint: rebuilt deterministically
            shutil.rmtree(out)
        if current is None:
            from next_plaid_spark.plans.builder import IndexBuilder

            IndexBuilder(self.spark, nbits=self.nbits, seed=self.seed,
                         bucket_tokens=self.bucket_tokens).build(tokens, out)
        else:
            # update_index routes the append through the fused delta:
            # per-batch IO is O(batch) — each bucket's new rows land as
            # an additional tiered file, settled files hardlink forward,
            # small files fold O(log batches) times (update.py r14; S8 at
            # cluster scale). Hardlinks also make retain-pruning safe:
            # rmtree of an old snapshot dir never frees bytes a newer
            # snapshot still references.
            update_index(self.spark, current, tokens, out, seed=self.seed)
        if self.retain is not None:
            # prune old complete snapshots only AFTER this batch's write
            # completed — the newest `retain` (including v{batch_id}) stay
            for v in _versions(self.root)[:-self.retain]:
                shutil.rmtree(os.path.join(self.root, f"v{v}"),
                              ignore_errors=True)

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """stream_df: streaming documents(doc_id, text, …). Returns the
        StreamingQuery (availableNow-compatible)."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
