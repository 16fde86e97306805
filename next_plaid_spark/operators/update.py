"""Incremental index maintenance — U1-U8 (SURVEY.md §2.8).

Reference policy (next-plaid/src/index.rs:1431-1591, update.rs:95-108,
lib.rs:47-62):
  (a) corpus ≤ ``rebuild_threshold`` (999) docs → full rebuild from raw
      embeddings;
  (b) fewer than ``buffer_threshold`` (100) new docs → plain append with the
      existing codec (no centroid expansion);
  (c) otherwise → find outlier tokens (min centroid distance >
      cluster_threshold), train ``max(1, ⌈n/256⌉)·4`` new centroids on them
      (update.rs:621-770), append to the codebook, then append-encode.

Spark translation: indexes are immutable snapshots — every update writes a
NEW index directory (functional, concurrent-reader-safe; the Spark analog of
the reference's atomic temp-file rename + arc-swap hot reload). The raw
``doc_tokens`` DataFrame plays the role of the raw-embedding sidecar (S7):
at cluster scale the source table always exists upstream, so path (a) is
just "rerun the builder". Paths (b)/(c) and every delete are one job,
``update_index_delta``: it writes the changed buckets of the doc_id-
bucketed token table and hardlinks the rest forward.

Delete (U5/U6): stable-id mode — survivors keep their ids and only the
tokens/doc_stats tables are filtered; the reference's dense-id
re-sequencing (filtering.rs:52-63) exists for NPY positional alignment,
which Parquet join-by-key makes unnecessary. A dense view is provided for
parity via ``dense_id_mapping``.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from next_plaid_spark.session import local_df, run_concurrently
from next_plaid_spark.operators.codec import assign_and_quantize
from next_plaid_spark.operators.kmeans import lloyds
from next_plaid_spark.sources.index_store import IndexMeta, PlaidIndex

REBUILD_THRESHOLD = 999   # lib.rs:47 start_from_scratch
BUFFER_THRESHOLD = 100    # update.rs:95-108

#: target rows per assign+quantize kernel task in the delta path — small
#: enough that a realistic append still parallelizes, large enough that a
#: tiny delta doesn't pay one Python-worker dispatch per source-scan split
_KERNEL_ROWS_PER_TASK = 65_536

EXPAND_PTS_PER_CENTROID = 256
EXPAND_FACTOR = 4


def find_outliers(new_tokens: DataFrame, centroids: np.ndarray,
                  threshold: float) -> DataFrame:
    """U2: tokens whose min distance to any centroid exceeds the codec's
    cluster_threshold. On unit vectors min_dist² = 2 − 2·max_dot, so the
    existing assignment GEMM yields it for free (update.rs:490-610)."""
    c = np.ascontiguousarray(centroids, dtype=np.float32)
    t2 = float(threshold) ** 2

    def flag(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float32) for v in pdf["vec"]])
            max_dot = (x @ c.T).max(axis=1)
            x_sq = (x * x).sum(axis=1)
            min_d2 = x_sq + 1.0 - 2.0 * max_dot  # ||x||² + ||c||² − 2x·c
            yield pdf[min_d2 > t2]

    return new_tokens.mapInPandas(flag, schema=new_tokens.schema)


EXPAND_SAMPLE_CAP = 65536  # driver-side bound on collected outlier tokens


def expand_centroids(outliers: DataFrame, centroids: np.ndarray,
                     *, seed: int = 42,
                     sample_cap: int = EXPAND_SAMPLE_CAP) -> np.ndarray:
    """U3: cluster outlier tokens and append the new centroids
    (k = max(1, ⌈n/256⌉)·4, update.rs:621-770).

    The driver collect is bounded by ``sample_cap`` with a seeded sample
    (the HELDOUT_CAP pattern of codec.py::train_codec_from_tokens): at
    100 TB an append of heavily-drifted data can produce millions of
    outlier tokens, and Lloyd's on a representative 64k-sample yields the
    same coverage centroids as the full set. k_new still scales with the TRUE outlier
    count so capacity matches drift volume (capped at sample size)."""
    n_outliers = outliers.count()
    if n_outliers == 0:
        return centroids
    sampled = outliers.select("vec")
    if n_outliers > sample_cap:
        # oversample the target fraction, then trim deterministically
        frac = min(1.0, (sample_cap / n_outliers) * 1.1)
        sampled = sampled.sample(fraction=frac, seed=seed)
    rows = sampled.limit(sample_cap).collect()
    pts = np.asarray([r.vec for r in rows], dtype=np.float32)
    k_new = max(1, int(np.ceil(n_outliers / EXPAND_PTS_PER_CENTROID))) * EXPAND_FACTOR
    k_new = min(k_new, len(pts))
    fresh = lloyds(pts, k_new, seed=seed)
    return np.vstack([centroids, fresh])


def update_index(
    spark: SparkSession,
    index: PlaidIndex,
    new_doc_tokens: DataFrame,
    out_path: str,
    *,
    full_rebuild_tokens: DataFrame | None = None,
    rebuild_threshold: int = REBUILD_THRESHOLD,
    buffer_threshold: int = BUFFER_THRESHOLD,
    seed: int = 42,
) -> PlaidIndex:
    """U1 dispatcher + U4 append re-index → new snapshot at ``out_path``:
    path (a) rebuilds when the raw corpus is given and the total stays
    within ``rebuild_threshold``; paths (b)/(c) are ``update_index_delta``
    with no delete set."""
    if full_rebuild_tokens is None:
        # the rebuild-threshold check is the only consumer of a new-doc
        # count here; without a rebuild frame (the streaming-ingest hot
        # path) the count job is skipped and the delta derives every count
        # from its own single bucket-histogram aggregation (guide §5:
        # driver round-trips are a per-batch stream cost). gone=None
        # declares the pure append statically: no delete bookkeeping job,
        # no anti-joins (r14 opt)
        return update_index_delta(spark, index, None, new_doc_tokens,
                                  out_path, seed=seed,
                                  buffer_threshold=buffer_threshold)
    new_doc_tokens = new_doc_tokens.select(
        F.col("doc_id").cast("long"), F.col("token_idx").cast("int"), "vec"
    ).cache()
    # both branches materialize their snapshot before returning, so the
    # finally-unpersist (r15, ADVICE) releases the per-call cache
    try:
        n_new_docs = new_doc_tokens.select("doc_id").distinct().count()
        if index.meta.num_documents + n_new_docs <= rebuild_threshold:
            # path (a): small corpus → rebuild everything with fresh k-means
            # at the index's own bucket cap, so the rebuild has exactly a
            # fresh build's layout (its bucket count follows its tokens)
            from next_plaid_spark.plans.builder import IndexBuilder

            allt = full_rebuild_tokens.unionByName(new_doc_tokens)
            return IndexBuilder(spark, nbits=index.meta.nbits, seed=seed,
                                bucket_tokens=index.meta.bucket_cap).build(
                allt, out_path
            )
        return update_index_delta(spark, index, None, new_doc_tokens,
                                  out_path, seed=seed,
                                  buffer_threshold=buffer_threshold)
    finally:
        new_doc_tokens.unpersist()


def delete_from_index(
    spark: SparkSession,
    index: PlaidIndex,
    doc_ids: list[int] | DataFrame,
    out_path: str,
) -> PlaidIndex:
    """U5: drop documents → new snapshot; ``update_index_delta`` with an
    empty append, so only the buckets owning a deleted doc are
    rewritten. Stable ids."""
    gone = (doc_ids.select(F.col("doc_id").cast("long"))
            if isinstance(doc_ids, DataFrame)
            else local_df(spark, [(int(i),) for i in doc_ids], "doc_id long"))
    empty = spark.createDataFrame(
        [], "doc_id long, token_idx int, vec array<float>")
    return update_index_delta(spark, index, gone, empty, out_path)


def dense_id_mapping(index: PlaidIndex) -> DataFrame:
    """U6 parity view: stable doc_id → dense 0..N−1 ``_subset_`` id
    (row_number over doc_id order — the deterministic equivalent of the
    reference's delete-time re-sequencing)."""
    from pyspark.sql.window import Window

    return index.doclens.select(
        "doc_id",
        (F.row_number().over(Window.orderBy("doc_id")) - 1).alias("dense_id"),
    )


def update_index_delta(
    spark: SparkSession,
    index: PlaidIndex,
    gone_docs: DataFrame | None,
    new_doc_tokens: DataFrame,
    out_path: str,
    *,
    seed: int = 42,
    buffer_threshold: int = BUFFER_THRESHOLD,
) -> PlaidIndex:
    """Fused U5-delete + U1/U4-append → new snapshot at ``out_path`` that
    touches only the delta's buckets; ``update_index`` (appends) and
    ``delete_from_index`` (deletes) are this with one side empty.

    Both the tokens and doc_stats are tiered stores (``sources/tiered.py``
    holds the fold rule and the hardlink carry): per-update IO is
    O(batch), not O(corpus). The tokens live in a ``bucketBy(n, doc_id)``
    table whose buckets may hold MULTIPLE files: each bucket's new rows
    land as an additional bucket file and the fold rule runs per bucket
    (Murmur3 spreads any realistic batch over every bucket, so a
    bucket-granular rewrite would be O(corpus)). A delete folds the whole
    bucket owning each gone doc — its rows live in whichever file its
    arrival batch wrote. doc_stats is doc_id-ranged
    (``tiered.write_doc_ranged``, one tier per hop); meta counts are
    arithmetic. No inverted file is stored, so nothing corpus-sized is
    re-derived per hop. The bucket count follows the token count as a
    build's does (``tiered.n_buckets`` up to ``meta.bucket_cap``), but
    only in doublings: a hop whose tokens ask for at least twice the
    snapshot's buckets folds every bucket and writes the table at the new
    count. An index that starts small (a stream's first micro-batch) thus
    grows its buckets with its tokens, and re-bucketing rewrites each
    token O(1) times, amortised. Centroid expansion follows the
    reference (update.rs:95-108): at ``buffer_threshold`` or more new
    docs the outlier tokens train new centroids, appended to the
    codebook, so carried buckets' codes stay valid.

    Preconditions: ``gone_docs`` ⊆ indexed docs; ``new_doc_tokens``
    doc_ids must not collide with kept docs (re-encoded docs appear in
    both gone and new). ``gone_docs=None`` declares a pure append
    statically — the delete bookkeeping job and the anti-joins are
    skipped entirely (one fewer doc_stats scan per streaming-ingest
    batch).
    """
    import re

    from next_plaid_spark.sources import tiered
    from next_plaid_spark.sources.index_store import (
        TOKEN_SCHEMA,
        bucket_table_name,
        write_centroids,
    )

    n = index.meta.n_buckets
    gone = (None if gone_docs is None
            else gone_docs.select(F.col("doc_id").cast("long")).distinct().cache())
    new_doc_tokens = new_doc_tokens.select(
        F.col("doc_id").cast("long"), F.col("token_idx").cast("int"), "vec"
    ).cache()
    # one aggregation job yields the doc/token counts AND the per-bucket
    # new-row histogram the tiering rule needs below (was three separate
    # actions — this runs once per streaming-ingest batch, so driver
    # round-trips are a per-batch stream cost, guide §5). doc_id determines
    # its bucket, so summing per-bucket distinct doc counts is exact.
    bucket = F.pmod(F.hash(F.col("doc_id")), F.lit(n))
    _hist = (new_doc_tokens.select(bucket.alias("b"), "doc_id")
             .groupBy("b")
             .agg(F.count("*").alias("nt"),
                  F.countDistinct("doc_id").alias("nd"))
             .collect())
    n_new_docs = sum(int(r.nd) for r in _hist)
    n_new_tokens = sum(int(r.nt) for r in _hist)

    centroids = index.centroids_np()
    if n_new_tokens:
        if n_new_docs >= buffer_threshold:
            outliers = find_outliers(
                new_doc_tokens, centroids, index.meta.codec.cluster_threshold
            )
            centroids = expand_centroids(outliers, centroids, seed=seed)
        # Kernel parallelism follows the DELTA size, not the source scan's
        # split count: the cached new-token frame inherits its upstream
        # partitioning (e.g. 32 bucket files for a 2-file code-index
        # delta), so a tiny delta paid 32 Python-worker dispatches per
        # kernel pass. Coalesce to ~rows/_KERNEL_ROWS_PER_TASK tasks
        # (row-wise pure kernel — partition layout can't change values;
        # the bucketed write re-shuffles by bucket anyway, and within-doc
        # row order is preserved by coalesce's in-order concatenation).
        src = new_doc_tokens
        m = max(1, -(-n_new_tokens // _KERNEL_ROWS_PER_TASK))
        if m < src.rdd.getNumPartitions():
            src = src.coalesce(m)
        # one FUSED Arrow pass (B4+B6; values identical to assign_codes →
        # quantize_residuals composed), cached and filled ONCE before the
        # two write legs fork — the unfused, uncached form crossed the
        # Python boundary twice per pass and evaluated the whole pass
        # twice (token write + doc_stats), r14 profile: 2 × 32 tasks of
        # ~0.3-0.9 s pure worker dispatch per 2-file update.
        quantized = assign_and_quantize(src, centroids, index.meta.codec).cache()
        quantized.count()
    else:  # delete-only: no rows to encode
        quantized = index.tokens.filter(F.lit(False))

    # bucket id exactly as Spark's bucketed write assigns it:
    # pmod(Murmur3(doc_id), n) — F.hash IS Murmur3 with the bucketing seed
    # (pinned by test_bucketed_tokens' per-file placement check).
    # new_per_bucket falls out of the single stats aggregation above.
    # The delete-side bookkeeping (dirty buckets + gone doc/token totals)
    # is likewise ONE bucket-grouped aggregation over the gone docs' stats
    # rows (gone ⊆ indexed docs per contract, so the semi-join drops
    # nothing) instead of two separate driver actions — and a delete-free
    # append (every streaming ingest batch) pays for neither beyond this
    # single empty-result job (guide §5: driver round-trips are a
    # per-batch stream cost).
    _dhist = ([] if gone is None else
              (index.doclens.join(gone, "doc_id", "left_semi")
               .select(bucket.alias("b"), "num_tokens")
               .groupBy("b")
               .agg(F.count("*").alias("nd"), F.sum("num_tokens").alias("nt"))
               .collect()))
    del_dirty = {int(r.b) for r in _dhist}
    gone_nd = sum(int(r.nd) for r in _dhist)
    gone_nt = sum(int(r.nt) for r in _dhist)
    new_per_bucket = {int(r.b): int(r.nt) for r in _hist}

    n_docs = index.meta.num_documents - gone_nd + n_new_docs
    n_tok = index.meta.num_embeddings - gone_nt + n_new_tokens
    n_out = tiered.n_buckets(n_tok, index.meta.bucket_cap)
    if n_out < 2 * n:  # no doubling due: keep the bucket count
        n_out = n

    old_dir = os.path.join(index.path, "tokens_bucketed")
    by_bucket: dict[int, dict[str, int]] = {}
    for p, rows_in_file, _mm in tiered.list_files(old_dir):
        m = re.search(r"_(\d+)\.c\d+", os.path.basename(p))
        if m:
            by_bucket.setdefault(int(m.group(1)), {})[p] = rows_in_file

    # the tiered fold rule per bucket, the bucket's new rows as the mass;
    # a bucket that OWNS a deleted doc folds entirely — a gone doc's rows
    # live in whichever file its arrival batch wrote, so file-level
    # pruning of deletes needs the whole bucket read anyway
    folded: set[str] = set()
    for b, sizes in by_bucket.items():
        folded |= (set(sizes) if n_out != n else  # re-bucket: fold all
                   tiered.fold_set(sizes, new_per_bucket.get(b, 0),
                                   lambda _p, b=b: b in del_dirty))

    cols = index.tokens.columns
    if folded:
        kept_rows = spark.read.schema(TOKEN_SCHEMA).parquet(*sorted(folded))
        if gone is not None:
            kept_rows = kept_rows.join(gone, "doc_id", "left_anti")
        kept_rows = kept_rows.select(*cols)
    else:
        kept_rows = index.tokens.filter(F.lit(False)).select(*cols)
    rows = kept_rows.unionByName(quantized.select(*cols))

    bt_new = bucket_table_name(out_path)
    new_dir = os.path.join(out_path, "tokens_bucketed")
    # every output bucket is written on a re-bucketing hop; otherwise
    # only those the delta touched
    n_written = (n_out if n_out != n
                 else max(len(del_dirty | set(new_per_bucket)), 1))
    bucket_out = F.pmod(F.hash(F.col("doc_id")), F.lit(n_out))

    def _tokens_leg() -> None:
        # the corpus-facing leg: bucketed delta write + hardlink carry.
        # Independent of the doc_stats/centroids chain below (disjoint
        # dirs; both evaluate `quantized` from the CACHED new-token frame),
        # so the two legs run concurrently — guide §2.6; each leg's
        # scheduling gaps back-fill with the other's tasks
        spark.sql(f"DROP TABLE IF EXISTS {bt_new}")
        (
            # every touched bucket's rows land in one write task → one new
            # file per touched bucket (write_index's one-file-per-bucket
            # write), at most one task per core
            tiered.bucket_shuffle(rows, n_written, bucket_out)
            .write.mode("overwrite")
            .option("path", new_dir)
            .bucketBy(n_out, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(bt_new)
        )
        tiered.carry([p for sizes in by_bucket.values() for p in sizes
                      if p not in folded], new_dir)
        spark.sql(f"REFRESH TABLE {bt_new}")

    new_stats = quantized.groupBy("doc_id").agg(
        F.count("*").alias("num_tokens"),
        F.array_sort(F.collect_set("code")).alias("codes"),
    )

    # doc_stats is a doc_id-ranged tiered store: with ordered intake a
    # delete folds few files. All consumers (doclens, doc_codes) are
    # row-order-insensitive, so layout is invisible to values.
    gone_rows = tiered.collect_gone(gone) if gone_nd else []

    def _stats_leg() -> None:
        tiered.write_doc_ranged(
            os.path.join(index.path, "doc_stats"),
            os.path.join(out_path, "doc_stats"), new_stats, n_new_docs,
            gone=gone, gone_ids=gone_rows)
        # centroids are a driver-local table, chained behind the stats
        # write inside this leg
        write_centroids(spark, out_path, centroids)

    run_concurrently(spark, _tokens_leg, _stats_leg)

    # per-batch caches must not outlive the batch (a long-lived stream
    # would otherwise accumulate one cached frame set per ingest batch)
    new_doc_tokens.unpersist()
    if gone is not None:
        gone.unpersist()
    if n_new_tokens:
        quantized.unpersist()

    meta = IndexMeta(
        k=centroids.shape[0], dim=index.meta.dim, nbits=index.meta.nbits,
        num_documents=n_docs, num_embeddings=n_tok,
        avg_doclen=n_tok / max(n_docs, 1), codec=index.meta.codec,
        bucket_table=bt_new, n_buckets=n_out,
        bucket_cap=index.meta.bucket_cap,
    )
    tiered.write_marker(os.path.join(out_path, "meta.json"), meta.to_json())
    return PlaidIndex(spark, out_path, meta)
