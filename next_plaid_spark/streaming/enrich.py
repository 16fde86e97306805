"""Streaming as-of enrichment — the point-in-time feature join run
continuously (operators/asof.py driven by foreachBatch).

The batch operator answers "latest right row at or before each left row's
timestamp" in one window pass. Streamed, the only cross-batch state needed
is the LATEST right row per key (the ledger): for time-ordered arrival
(every timestamp in batch i ≤ every timestamp in batch i+1 — the normal
shape for an event log), a left row's as-of match is either in its own
batch or IS the ledger row, because all earlier-batch right rows precede
the whole current batch and only the latest per key can win backward
as-of. So the ledger holds exactly one row per key — state is O(|keys|),
never O(events) — and stream ≡ batch exactly (tests/test_streaming_enrich.py).

Out-of-order arrival across batches degrades gracefully: a late right row
enriches only lefts from its own batch onward (matches already emitted are
not retracted) — the standard at-least-current semantics of ledger sinks;
use the watermark-buffered windows in streaming/windows.py when exact
out-of-order event-time semantics are required.

Ledger writes are versioned directories (``ledger_v{batch_id}``, newest
wins) so a batch can read the previous ledger while producing the next —
the same immutable-snapshot discipline as sources/index_store.py. Old
snapshots are pruned after each successful write (retain 2: the new one
plus its predecessor), bounding on-disk growth for long-running streams.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from next_plaid_spark.operators.asof import asof_join_backward


class StreamingAsofEnricher:
    """foreachBatch sink: event stream → as-of-enriched left events.

    ``left_filter`` / ``right_filter`` split each micro-batch into the
    rows to enrich and the rows that carry payload (e.g. purchases
    enriched with the user's latest prior view). Enriched lefts land as
    idempotent per-batch overwrites under ``<root>/enriched/b{batch_id}``
    (r13 — replay-exact, like the curation sinks); the per-key latest
    right row persists as the versioned ledger."""

    def __init__(self, spark: SparkSession, root: str, *,
                 keys, ts_col: str, payload_cols,
                 left_filter: Column, right_filter: Column,
                 tie_col: str | None = None,
                 vacuum_every: int | None = None):
        from next_plaid_spark.streaming.curation import (
            _assert_success_markers, _check_layout, _recover_fold)

        _assert_success_markers(spark)
        self.spark = spark
        self.root = root
        self.keys = list(keys)
        self.ts_col = ts_col
        self.payload_cols = list(payload_cols)
        self.left_filter = left_filter
        self.right_filter = right_filter
        self.tie_col = tie_col
        self.vacuum_every = vacuum_every
        # the per-batch reader sees only b{id}/g{seq} dirs: reject any
        # other layout rather than silently drop what it holds
        _check_layout(self._enriched_path)
        _recover_fold(self._enriched_path)

    @property
    def _enriched_path(self) -> str:
        return os.path.join(self.root, "enriched")

    def _ledger_dir(self, exclude_batch: int | None = None) -> str | None:
        """Newest ledger snapshot, optionally EXCLUDING the in-flight
        batch's own (``ledger_v{batch_id}`` from a crashed prior attempt
        is replay taint: it already folded this batch's rights, and its
        per-key reduction may have dropped an older right row a left in
        this batch should still match)."""
        if not os.path.isdir(self.root):
            return None
        vs = sorted(
            (int(m.group(1)), d)
            for d in os.listdir(self.root)
            if (m := re.fullmatch(r"ledger_v(\d+)", d))
            and int(m.group(1)) != exclude_batch
        )
        return os.path.join(self.root, vs[-1][1]) if vs else None

    def _right_cols(self):
        cols = self.keys + [self.ts_col] + self.payload_cols
        if self.tie_col is not None and self.tie_col not in cols:
            cols.append(self.tie_col)
        return cols

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if (self.vacuum_every and batch_id > 0
                and batch_id % self.vacuum_every == 0):
            from next_plaid_spark.streaming.curation import _fold_batch_dirs

            # in-flight compaction of the prior-committed enriched/b{id}
            # output dirs (r14) — pure layout maintenance: the enriched
            # dirs never feed decisions, and the in-flight batch's own
            # dir is excluded, so replay is unaffected
            _fold_batch_dirs(self.spark, self._enriched_path,
                             exclude_batch=batch_id)
        rights = batch_df.filter(self.right_filter).select(*self._right_cols())
        # replay-exact (r13): base ledger excludes this batch's own
        # snapshot, and the enriched output is an idempotent overwrite
        # under b{batch_id} — the r12 append form emitted the batch's
        # enriched rows twice on replay
        prev = self._ledger_dir(exclude_batch=batch_id)
        if prev is not None:
            rights = rights.unionByName(self.spark.read.parquet(prev))
        rights = rights.cache()

        lefts = batch_df.filter(self.left_filter)
        asof_join_backward(
            lefts, rights, keys=self.keys, ts_col=self.ts_col,
            payload_cols=self.payload_cols, tie_col=self.tie_col,
        ).write.mode("overwrite").parquet(
            os.path.join(self._enriched_path, f"b{batch_id}"))

        order = [F.col(self.ts_col).desc()]
        if self.tie_col is not None:
            order.append(F.col(self.tie_col).desc())
        w = Window.partitionBy(*self.keys).orderBy(*order)
        (
            rights.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
            .write.mode("overwrite")
            .parquet(os.path.join(self.root, f"ledger_v{batch_id}"))
        )
        rights.unpersist()
        # retain only the newest prior snapshot (needed while a restarted
        # batch may still replay against it) — without pruning, a
        # long-running stream accumulates one directory per micro-batch
        vs = sorted(
            (int(m.group(1)), d)
            for d in os.listdir(self.root)
            if (m := re.fullmatch(r"ledger_v(\d+)", d))
        )
        for _, d in vs[:-2]:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def attach(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def enriched(self) -> DataFrame:
        from next_plaid_spark.streaming.curation import _read_batches_strict

        return _read_batches_strict(self.spark, self._enriched_path,
                                    "enriched")

    def vacuum(self) -> dict:
        """Generational fold of the per-batch enriched/ dirs (quiescent
        streams only; ``vacuum_every=N`` for in-flight compaction). The
        versioned ledger snapshots are already pruned per batch."""
        from next_plaid_spark.streaming.curation import _fold_batch_dirs

        return {"enriched_dirs_merged": _fold_batch_dirs(
            self.spark, self._enriched_path)}
