"""Streaming search — online serving of the PLAID funnel over a query
STREAM (Structured Streaming extension surface; the reference serves
request/response over the same per-index state,
next-plaid-api/src/handlers/search.rs).

Each micro-batch of raw queries runs the SAME batch funnel job
(plans/searcher.py) against the current index snapshot and delivers
(query_id, doc_id, score, rank, batch_id) to the sink as an idempotent
per-batch write — so the stream ≡ batch contract is structural: a query
produces the identical result rows whether it arrived in a micro-batch
or a batch DataFrame, and a replayed micro-batch rewrites rather than
re-appends.

Hot-reload: by default the searcher binds one index snapshot for the
stream's lifetime (cheapest; the common serving mode). With
``follow_updates=True`` the sink re-checks the snapshot root every batch
and swaps in the newest complete version — the arc-swap reader loop
(state.rs:31-47) in streaming form, composing with
:class:`~next_plaid_spark.streaming.ingest.StreamingIndexWriter` writing
new versions on the other side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from next_plaid_spark.encoding import encode_queries
from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams
from next_plaid_spark.sources.index_store import PlaidIndex
from next_plaid_spark.streaming.ingest import latest_index


class StreamingSearcher:
    """foreachBatch sink: query stream → top-k result stream.

    Results land in an in-memory accumulator table (tests) or — via
    ``attach(..., sink_path=...)`` or the ``sink_path=`` constructor
    argument (r14, for batch-driven ``process_batch`` use) — as
    idempotent per-batch parquet overwrites under
    ``<sink_path>/b{batch_id}`` (r13: a replayed batch rewrites its
    results instead of appending a second copy; read back with
    ``results_df()``). Rows carry ``batch_id``."""

    def __init__(self, spark: SparkSession, index: PlaidIndex | None = None,
                 *, root: str | None = None,
                 params: SearchParams | None = None,
                 follow_updates: bool = False, dim: int = 16,
                 subset: DataFrame | None = None,
                 vacuum_every: int | None = None,
                 sink_path: str | None = None):
        if index is None and root is None:
            raise ValueError("need an index or a snapshot root")
        self.vacuum_every = vacuum_every
        self.spark = spark
        self.root = root
        self.dim = dim
        self.follow_updates = follow_updates
        self.params = params or SearchParams()
        # filtered serving (F2/F9 over a stream): every batch searches
        # within this doc subset
        self.subset = subset
        self._index = index if index is not None else latest_index(spark, root)
        if self._index is None:
            raise FileNotFoundError(f"no index snapshot under {root}")
        self._searcher = BatchSearcher(self._index, self.params)
        self._sink_path: str | None = None
        self.results: list = []  # driver-side accumulator when no sink path
        if sink_path:
            # parquet sink bound at construction (r14) — same protocol
            # attach() applies, for batch-driven use of process_batch
            self._bind_sink(sink_path)

    def _bind_sink(self, sink_path: str) -> None:
        from next_plaid_spark.streaming.curation import (
            _assert_success_markers, _check_layout, _recover_fold)

        _assert_success_markers(self.spark)
        # the per-batch reader sees only b{id}/g{seq} dirs: reject any
        # other layout rather than silently drop what it holds
        _check_layout(sink_path)
        _recover_fold(sink_path)
        self._sink_path = sink_path

    def _refresh(self) -> None:
        if not (self.follow_updates and self.root):
            return
        latest = latest_index(self.spark, self.root)
        if latest is not None and latest.path != self._index.path:
            self._searcher.release()
            self._index = latest
            self._searcher = BatchSearcher(self._index, self.params)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if (self._sink_path and self.vacuum_every and batch_id > 0
                and batch_id % self.vacuum_every == 0):
            from next_plaid_spark.streaming.curation import _fold_batch_dirs

            # in-flight compaction of prior-committed result dirs (r14);
            # results never feed decisions and the in-flight batch's own
            # dir is excluded — replay unaffected
            _fold_batch_dirs(self.spark, self._sink_path,
                             exclude_batch=batch_id)
        self._refresh()
        out = self._searcher.search(
            encode_queries(batch_df, dim=self.dim), subset=self.subset
        ).withColumn("batch_id", F.lit(int(batch_id)))
        if self._sink_path:
            # idempotent per-batch overwrite (r13): a replayed batch
            # rewrites ITS results instead of appending a second copy;
            # read the sink back with results_df() (unions the b* dirs)
            out.write.mode("overwrite").parquet(
                os.path.join(self._sink_path, f"b{int(batch_id)}"))
        else:
            # same idempotence for the in-memory accumulator: a replayed
            # batch REPLACES its prior rows instead of appending again
            self.results = [r for r in self.results
                            if r.batch_id != int(batch_id)]
            self.results.extend(out.collect())

    def attach(self, stream_df: DataFrame, checkpoint: str, *,
               sink_path: str | None = None):
        """stream_df(query_id, text) → running StreamingQuery."""
        if sink_path:
            self._bind_sink(sink_path)
        else:
            self._sink_path = None
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def results_df(self) -> DataFrame:
        """All delivered results (parquet sink mode): union of the
        per-batch dirs. Raises a descriptive error if no batch has
        committed yet (r13 ADVICE — not an opaque zero-path read)."""
        from next_plaid_spark.streaming.curation import _read_batches_strict

        if not self._sink_path:
            raise ValueError("no sink_path — results are in .results")
        return _read_batches_strict(self.spark, self._sink_path, "result")

    def vacuum(self) -> dict:
        """Generational fold of the per-batch result dirs (quiescent
        streams only; ``vacuum_every=N`` for in-flight compaction)."""
        from next_plaid_spark.streaming.curation import _fold_batch_dirs

        if not self._sink_path:
            return {"result_dirs_merged": 0}
        return {"result_dirs_merged": _fold_batch_dirs(
            self.spark, self._sink_path)}
