"""S4: legacy NPY index converter — fastplaid / next-plaid → parquet index.

The reference persists an index as an NPY artifact directory
(next-plaid/src/index.rs:400-520):

    centroids.npy                 [K, dim]  f32 (f16 in fastplaid indexes)
    bucket_cutoffs.npy / bucket_weights.npy / avg_residual.npy /
    cluster_threshold.npy         codec artifacts
    plan.json / metadata.json     {nbits, num_chunks, counts, …}
    {i}.codes.npy                 per-chunk token→centroid codes (1-D)
    {i}.residuals.npy             per-chunk packed residuals [n_tok, bytes]
    doclens.{i}.json              per-chunk per-doc token counts
    {i}.metadata.json             chunk doc/embedding counts + offset
    ivf.npy / ivf_lengths.npy     inverted file (derived data)

``convert_npy_index`` reads that layout into this repo's parquet index:
small artifacts load driver-side (bounded: centroids + codec + json);
the corpus-sized per-chunk codes/residuals are read INSIDE Spark tasks —
one task per legacy chunk via ``mapInPandas`` over a chunk-descriptor
DataFrame — so a 1000-chunk corpus converts with 1000-way parallelism and
nothing corpus-sized ever crosses the driver. The packed residual BYTES
carry over untouched (the repo's quantizer writes the reference's exact
big-endian nbits packing — codec.rs:356-411 parity, test_pack_unpack)
and the doc_stats table is re-derived by ``write_index``; ivf.npy is not
read (the IVF is derived data: each doc's sorted distinct codes carry it,
index.rs:479-508), which also subsumes S3: the legacy multi-chunk layout merges into one
multi-file parquet table in the same pass.

fastplaid variants need no pre-pass: np.load handles the f16 floats
(astype to f32 here) and both ``<u1``/``|u1`` residual descriptors — the
dtype rewrites of the reference's convert_fastplaid_to_nextplaid
(mmap.rs:1757-1810) become plain casts.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from next_plaid_spark.operators.codec import CodecArtifacts
from next_plaid_spark.sources.index_store import (
    IndexMeta, PlaidIndex, write_index)


def _np1(path: str, dtype) -> np.ndarray:
    return np.load(path).astype(dtype)


def load_npy_codec(src: str) -> CodecArtifacts:
    """Codec artifacts from the legacy directory (f16-safe)."""
    with open(os.path.join(src, "plan.json")) as f:
        nbits = int(json.load(f)["nbits"])
    ct_p = os.path.join(src, "cluster_threshold.npy")
    ct = float(np.load(ct_p).astype(np.float32)[0]) if os.path.exists(ct_p) else 0.0
    return CodecArtifacts(
        nbits=nbits,
        bucket_cutoffs=_np1(os.path.join(src, "bucket_cutoffs.npy"), np.float32),
        bucket_weights=_np1(os.path.join(src, "bucket_weights.npy"), np.float32),
        avg_residual=_np1(os.path.join(src, "avg_residual.npy"), np.float32),
        cluster_threshold=ct,
    )


def legacy_tokens_df(spark: SparkSession, src: str) -> DataFrame:
    """(doc_id, token_idx, code, residual) from every legacy chunk — one
    Spark task per chunk; each task np.loads only its own chunk files."""
    with open(os.path.join(src, "metadata.json")) as f:
        n_chunks = int(json.load(f)["num_chunks"])
    descs = []
    doc_base = 0
    for i in range(n_chunks):
        with open(os.path.join(src, f"doclens.{i}.json")) as f:
            n_docs_chunk = len(json.load(f))
        descs.append((i, src, doc_base))
        doc_base += n_docs_chunk
    desc_df = spark.createDataFrame(
        descs, "chunk int, src string, doc_base long"
    ).repartition(max(1, len(descs)))

    def read_chunk(batches):
        import pandas as pd

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                codes = np.load(
                    os.path.join(r.src, f"{r.chunk}.codes.npy")
                ).astype(np.int64)
                res = np.load(os.path.join(r.src, f"{r.chunk}.residuals.npy"))
                res = np.ascontiguousarray(res.astype(np.uint8))
                with open(os.path.join(r.src, f"doclens.{r.chunk}.json")) as f:
                    doclens = np.asarray(json.load(f), dtype=np.int64)
                doc_ids = r.doc_base + np.repeat(
                    np.arange(len(doclens), dtype=np.int64), doclens
                )
                tok_idx = (np.arange(len(codes), dtype=np.int64)
                           - np.repeat(np.cumsum(doclens) - doclens, doclens))
                yield pd.DataFrame({
                    "doc_id": doc_ids,
                    "token_idx": tok_idx.astype(np.int32),
                    "code": codes,
                    "residual": [row.tobytes() for row in res],
                })

    return desc_df.mapInPandas(
        read_chunk,
        schema="doc_id long, token_idx int, code long, residual binary",
    )


def convert_npy_index(spark: SparkSession, src: str, dest: str, *,
                      bucket_tokens: int = 32) -> PlaidIndex:
    """Convert a legacy NPY index directory into a parquet PlaidIndex."""
    with open(os.path.join(src, "metadata.json")) as f:
        m = json.load(f)
    centroids = np.load(os.path.join(src, "centroids.npy")).astype(np.float32)
    codec = load_npy_codec(src)
    meta = IndexMeta(
        k=int(m.get("num_partitions", centroids.shape[0])),
        dim=int(m.get("embedding_dim", centroids.shape[1])),
        nbits=codec.nbits,
        num_documents=int(m["num_documents"]),
        num_embeddings=int(m["num_embeddings"]),
        avg_doclen=float(m.get(
            "avg_doclen", m["num_embeddings"] / max(m["num_documents"], 1)
        )),
        codec=codec,
    )
    return write_index(
        spark, dest,
        tokens_coded=legacy_tokens_df(spark, src),
        centroids=centroids, meta=meta, bucket_tokens=bucket_tokens,
    )


def export_npy_index(spark: SparkSession, index: PlaidIndex, dest: str, *,
                     docs_per_chunk: int = 50_000,
                     include_id_gaps: bool = False) -> int:
    """The reverse direction: a parquet PlaidIndex → the reference's NPY
    artifact directory (index.rs:400-520), so corpora can migrate BACK to
    a next-plaid deployment. Returns the number of chunks written.

    Docs are renumbered to dense 0..N−1 positions in doc_id order (the
    reference addresses documents positionally) via the same two-phase
    prefix sum as sequence packing — no corpus-wide single-partition
    window, and no driver-side doc_id→rank dict: the IVF is derived from
    the per-doc code lists and translated to rank space by a distributed
    join. The mapping is also persisted as
    ``doc_id_map/`` parquet inside ``dest`` so callers holding external
    doc ids can translate results. With ``include_id_gaps``, doc ids
    absent from the index in 0..max(doc_id) export as ZERO-length doclens
    entries — a convert→export round trip of a legacy corpus with empty
    docs then preserves every positional id instead of silently
    renumbering past them.

    Chunk c = rank // docs_per_chunk (the reference's 50k-doc chunking);
    each chunk's codes/residuals and its doclens are np.saved INSIDE one
    Spark task each (``applyInPandas`` over ``groupBy(chunk)``), so chunks
    export in parallel. Driver-side state is bounded by the OUTPUT
    artifact itself: ivf.npy is a single file the reference mmaps, so its
    (rank-translated, code-ordered) content is necessarily assembled where
    that file is written — O(|ivf.npy|), not O(corpus tokens)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    meta = index.meta
    codec = meta.codec
    np.save(os.path.join(dest, "centroids.npy"),
            index.centroids_np().astype(np.float32))
    np.save(os.path.join(dest, "bucket_cutoffs.npy"),
            codec.bucket_cutoffs.astype(np.float32))
    np.save(os.path.join(dest, "bucket_weights.npy"),
            codec.bucket_weights.astype(np.float32))
    np.save(os.path.join(dest, "avg_residual.npy"),
            codec.avg_residual.astype(np.float32))
    np.save(os.path.join(dest, "cluster_threshold.npy"),
            np.asarray([codec.cluster_threshold], dtype=np.float32))

    dl0 = index.doclens.select(
        "doc_id", F.col("num_tokens").cast("long").alias("num_tokens")
    )
    if include_id_gaps:
        mx = dl0.agg(F.max("doc_id").alias("mx")).collect()[0].mx
        if mx is not None:
            universe = spark.range(0, int(mx) + 1).select(
                F.col("id").alias("doc_id"))
            dl0 = universe.join(dl0, "doc_id", "left").select(
                "doc_id",
                F.coalesce("num_tokens", F.lit(0).cast("long")).alias("num_tokens"),
            )

    # dense rank per doc without a global window: per-bucket counts,
    # driver cumsum over |buckets| rows, within-bucket row_number
    bucket_size = 1 << 20
    dl = dl0.withColumn("_b", F.floor(F.col("doc_id") / bucket_size))
    pre = {
        int(r._b): int(r.n)
        for r in dl.groupBy("_b").agg(F.count("*").alias("n")).collect()
    }
    base, acc = {}, 0
    for b in sorted(pre):
        base[b] = acc
        acc += pre[b]
    n_docs = acc
    base_df = spark.createDataFrame(
        [(b, off) for b, off in base.items()], "_b long, _off long"
    )
    w_in = Window.partitionBy("_b").orderBy("doc_id")
    ranks = (
        dl.withColumn("_r", F.row_number().over(w_in) - 1)
        .join(F.broadcast(base_df), "_b")
        .select(
            "doc_id", "num_tokens",
            (F.col("_off") + F.col("_r")).alias("rank"),
            F.floor((F.col("_off") + F.col("_r")) / docs_per_chunk).alias("chunk"),
        )
    ).cache()
    toks = index.tokens.join(ranks.select("doc_id", "rank", "chunk"), "doc_id").select(
        "rank", "token_idx", "code", "residual", "chunk",
    )
    n_chunks = (n_docs + docs_per_chunk - 1) // docs_per_chunk

    def write_chunk(key, pdf):
        import pandas as pd

        ci = int(key[0])
        pdf = pdf.sort_values(["rank", "token_idx"], kind="stable")
        codes = pdf["code"].to_numpy(dtype=np.int64)
        res = np.asarray(
            [np.frombuffer(r, dtype=np.uint8) for r in pdf["residual"]]
        )
        np.save(os.path.join(dest, f"{ci}.codes.npy"), codes)
        np.save(os.path.join(dest, f"{ci}.residuals.npy"), res)
        return pd.DataFrame({"chunk": [ci], "n_tokens": [len(codes)]})

    chunk_stats = {
        int(r.chunk): int(r.n_tokens)
        for r in toks.groupBy("chunk").applyInPandas(
            write_chunk, schema="chunk long, n_tokens long"
        ).collect()
    }

    # doclens per chunk from the doc universe (NOT from token counts — a
    # zero-token doc has no token rows but must still occupy its slot)
    def write_doclens(key, pdf):
        import pandas as pd

        ci = int(key[0])
        pdf = pdf.sort_values("rank")
        with open(os.path.join(dest, f"doclens.{ci}.json"), "w") as f:
            json.dump([int(x) for x in pdf["num_tokens"]], f)
        return pd.DataFrame({"chunk": [ci], "n_docs": [len(pdf)]})

    doc_stats = {
        int(r.chunk): int(r.n_docs)
        for r in ranks.groupBy("chunk").applyInPandas(
            write_doclens, schema="chunk long, n_docs long"
        ).collect()
    }

    # chunks whose docs are all zero-token never reach write_chunk —
    # give them empty (shape-correct) code/residual files
    res_width = max(1, (meta.dim * meta.nbits) // 8)
    for ci in range(n_chunks):
        if ci not in chunk_stats:
            np.save(os.path.join(dest, f"{ci}.codes.npy"),
                    np.zeros(0, dtype=np.int64))
            np.save(os.path.join(dest, f"{ci}.residuals.npy"),
                    np.zeros((0, res_width), dtype=np.uint8))
            chunk_stats[ci] = 0

    # per-chunk metadata + embedding offsets (running sum in chunk order)
    off = 0
    for ci in range(n_chunks):
        with open(os.path.join(dest, f"{ci}.metadata.json"), "w") as f:
            json.dump({
                "num_documents": doc_stats.get(ci, 0),
                "num_embeddings": chunk_stats.get(ci, 0),
                "embedding_offset": off,
            }, f)
        off += chunk_stats.get(ci, 0)

    # IVF derived from the per-doc distinct codes and translated to
    # dense-rank space DISTRIBUTIVELY (explode → join → per-code sorted
    # lists), then concatenated in code order with lengths where the
    # single ivf.npy output file is written
    ivf_ranked = (
        index.doc_codes.select("doc_id", F.explode("codes").alias("code"))
        .join(ranks.select("doc_id", "rank"), "doc_id")
        .groupBy("code")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        .collect()
    )
    by_code = {int(r.code): list(r.ranks) for r in ivf_ranked}
    ivf_data: list[int] = []
    ivf_lengths = np.zeros(meta.k, dtype=np.int32)
    for c in range(meta.k):
        docs = by_code.get(c, [])
        ivf_lengths[c] = len(docs)
        ivf_data.extend(int(x) for x in docs)
    np.save(os.path.join(dest, "ivf.npy"),
            np.asarray(ivf_data, dtype=np.int64))
    np.save(os.path.join(dest, "ivf_lengths.npy"), ivf_lengths)

    # persist the id translation for callers holding external doc ids
    ranks.select("doc_id", "rank").write.mode("overwrite").parquet(
        os.path.join(dest, "doc_id_map"))
    ranks.unpersist()

    with open(os.path.join(dest, "plan.json"), "w") as f:
        json.dump({"nbits": meta.nbits, "num_chunks": n_chunks}, f)
    with open(os.path.join(dest, "metadata.json"), "w") as f:
        json.dump({
            "num_chunks": n_chunks, "nbits": meta.nbits,
            "num_partitions": meta.k,
            "num_embeddings": meta.num_embeddings,
            "avg_doclen": meta.avg_doclen,
            "num_documents": n_docs,
            "embedding_dim": meta.dim,
            "next_plaid_compatible": True,
        }, f)
    return n_chunks
