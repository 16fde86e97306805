"""Residual product-quantization codec — B5/B6/B7 (SURVEY.md §2.3).

Semantics (next-plaid/src/index.rs:182-287, codec.rs:356-470):
- train: residual = vec − centroid[code] over a held-out sample;
  ``bucket_cutoffs`` = quantiles of all residual values at i/2^nbits
  (i = 1..2^nbits−1); ``bucket_weights`` = quantile midpoints at
  (2i+1)/2^(nbits+1); ``avg_residual`` = per-dim mean |residual|;
  ``cluster_threshold`` = 0.75-quantile of residual L2 norms (update-path
  outlier gate, index.rs:632-638).
- quantize: bucket index = searchsorted(cutoffs, value); pack nbits per value
  big-endian into bytes (codec.rs:356-411).
- decompress: unpack → centroid[code] + bucket_weights[idx] → L2-renormalize
  (codec.rs:423-470).

Quantiles use linear interpolation to match utils.rs:94-157 (== np.quantile
default). Training collects ≤ ``HELDOUT_CAP`` residual rows to the driver —
the reference uses the same bounded heldout (5% capped 50k, index.rs:571-666).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HELDOUT_FRAC = 0.05
HELDOUT_CAP = 50_000


@dataclass
class CodecArtifacts:
    nbits: int
    bucket_cutoffs: np.ndarray   # [2^nbits - 1] float32
    bucket_weights: np.ndarray   # [2^nbits] float32
    avg_residual: np.ndarray     # [dim] float32
    cluster_threshold: float

    def to_dict(self) -> dict:
        return {
            "nbits": self.nbits,
            "bucket_cutoffs": self.bucket_cutoffs.tolist(),
            "bucket_weights": self.bucket_weights.tolist(),
            "avg_residual": self.avg_residual.tolist(),
            "cluster_threshold": float(self.cluster_threshold),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "CodecArtifacts":
        return cls(
            nbits=int(d["nbits"]),
            bucket_cutoffs=np.asarray(d["bucket_cutoffs"], dtype=np.float32),
            bucket_weights=np.asarray(d["bucket_weights"], dtype=np.float32),
            avg_residual=np.asarray(d["avg_residual"], dtype=np.float32),
            cluster_threshold=float(d["cluster_threshold"]),
        )


def _artifacts_from_residuals(res: np.ndarray, nbits: int) -> CodecArtifacts:
    flat = res.ravel()
    n_buckets = 2 ** nbits
    cut_q = np.arange(1, n_buckets) / n_buckets
    w_q = (2 * np.arange(n_buckets) + 1) / (2 * n_buckets)
    cutoffs = np.quantile(flat, cut_q).astype(np.float32)
    weights = np.quantile(flat, w_q).astype(np.float32)
    avg_residual = np.abs(res).mean(axis=0).astype(np.float32)
    norms = np.linalg.norm(res, axis=1)
    threshold = float(np.quantile(norms, 0.75))
    return CodecArtifacts(nbits, cutoffs, weights, avg_residual, threshold)


def _pack(bucket_idx: np.ndarray, nbits: int) -> bytes:
    """Pack one token's per-dim bucket indices, nbits each, big-endian."""
    bits = ((bucket_idx[:, None] >> np.arange(nbits - 1, -1, -1)) & 1).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _pack_batch(bucket_idx: np.ndarray, nbits: int) -> list[bytes]:
    """Vectorized _pack over a [n, dim] index matrix: one packbits for the
    whole batch (np.packbits(axis=1) pads each row to a byte boundary, so
    the per-row bytes are identical to _pack's)."""
    n = bucket_idx.shape[0]
    bits = ((bucket_idx[:, :, None] >> np.arange(nbits - 1, -1, -1)) & 1).astype(np.uint8)
    packed = np.packbits(bits.reshape(n, -1), axis=1)
    return [row.tobytes() for row in packed]


def _unpack(raw: bytes, dim: int, nbits: int) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8))[: dim * nbits]
    bits = bits.reshape(dim, nbits)
    return (bits * (1 << np.arange(nbits - 1, -1, -1))).sum(axis=1)


def _unpack_batch(raws, dim: int, nbits: int) -> np.ndarray:
    """Vectorized _unpack over a sequence of equal-length packed rows →
    [n, dim] int64. Bit-identical to stacking per-row _unpack (pinned by
    test_pack_unpack_batch): every row is ceil(dim·nbits/8) bytes with
    big-endian sub-byte packing, so the whole batch decodes as one buffer.
    r14 measurement: the per-row loop cost ~3 s per 240k tokens inside
    every rerank kernel invocation and sidecar write; the nibble split is
    ~200× faster."""
    n = len(raws)
    if n == 0:
        return np.empty((0, dim), dtype=np.int64)
    buf = np.frombuffer(b"".join(bytes(r) for r in raws), dtype=np.uint8)
    buf = buf.reshape(n, -1)
    if nbits == 4:  # two big-endian nibbles per byte (the default codec)
        out = np.empty((n, buf.shape[1] * 2), dtype=np.uint8)
        out[:, 0::2] = buf >> 4
        out[:, 1::2] = buf & 0x0F
        return out[:, :dim].astype(np.int64)
    if nbits == 8:
        return buf[:, :dim].astype(np.int64)
    bits = np.unpackbits(buf, axis=1)[:, : dim * nbits].reshape(-1, nbits)
    pow2 = (1 << np.arange(nbits - 1, -1, -1)).astype(np.int64)
    return (bits @ pow2).reshape(n, dim)


def quantize_residuals(doc_tokens_coded: DataFrame, centroids: np.ndarray,
                       codec: CodecArtifacts, *, vec_col: str = "vec") -> DataFrame:
    """B6: add ``residual BINARY`` (packed bucket indices), drop the raw vec.

    Output: all input columns except vec_col, plus ``residual``.
    """
    c = np.ascontiguousarray(centroids, dtype=np.float32)
    cutoffs = codec.bucket_cutoffs.astype(np.float32)
    nbits = codec.nbits
    keep = [f for f in doc_tokens_coded.schema.fields if f.name != vec_col]
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep) + ", residual binary"

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float32) for v in pdf[vec_col]])
            codes = pdf["code"].to_numpy()
            res = x - c[codes]
            idx = np.searchsorted(cutoffs, res, side="left")
            out = pdf.drop(columns=[vec_col]).copy()
            out["residual"] = _pack_batch(idx, nbits)
            yield out

    return doc_tokens_coded.mapInPandas(enc, schema=out_schema)


def train_codec_from_tokens(doc_tokens: DataFrame, centroids: np.ndarray,
                            *, nbits: int = 4, seed: int = 42,
                            vec_col: str = "vec",
                            n_rows: int | None = None) -> CodecArtifacts:
    """B5 without materializing a fully-coded corpus: the seeded Bernoulli
    sample runs on the raw tokens FIRST and only the sampled rows are
    assigned — the same row set (and therefore bit-identical artifacts) as
    sampling an assigned corpus, since assignment is row-wise pure, but the
    full-corpus assign pass (and its cache) disappears from the build."""
    from next_plaid_spark.operators.kmeans import _argmax_codes

    n = n_rows if n_rows is not None else doc_tokens.count()
    frac = min(1.0, max(HELDOUT_FRAC, HELDOUT_CAP / max(n, 1)))
    sampled = doc_tokens.select(vec_col)
    if frac < 1.0:
        sampled = sampled.sample(fraction=min(1.0, frac * 1.1), seed=seed)
    # Arrow transfer (same partition-ordered rows as collect(), ~10× faster
    # for wide vector columns). The sample is assigned on the DRIVER with
    # the same `_argmax_codes` kernel the executors use: the sample is
    # bounded (≤ 2·HELDOUT_CAP rows by the limit), so routing it through a
    # mapInPandas assign stage paid a full executor Python round-trip —
    # 32 tasks × worker dispatch + Arrow both ways — to run a GEMM the
    # driver does in milliseconds (r14 profile: the assign+toPandas stage
    # was the single largest stage of the build, ~1.7 s/task of Python
    # wait for ~1.7k rows/task of work; guide §4.1 — control how many
    # columns/rows cross, and don't cross twice).
    pdf = sampled.limit(HELDOUT_CAP * 2).toPandas()
    vecs = np.asarray([np.asarray(v, dtype=np.float32) for v in pdf[vec_col]])
    c = np.ascontiguousarray(centroids, dtype=np.float32)
    codes = (_argmax_codes(vecs, c) if len(vecs)
             else np.empty(0, dtype=np.int64))
    if len(vecs) > HELDOUT_CAP:
        rng = np.random.default_rng(seed)
        keep = rng.choice(len(vecs), size=HELDOUT_CAP, replace=False)
        vecs, codes = vecs[keep], codes[keep]
    return _artifacts_from_residuals(vecs - c[codes], nbits)


def assign_and_quantize(doc_tokens: DataFrame, centroids: np.ndarray,
                        codec: CodecArtifacts, *, vec_col: str = "vec") -> DataFrame:
    """B4 + B6 fused into one Arrow pass — the builder's hot path. One GEMM
    argmax + one searchsorted per batch; the raw vec never crosses back.
    Values identical to assign_codes → quantize_residuals composed."""
    c = np.ascontiguousarray(centroids, dtype=np.float32)
    cutoffs = codec.bucket_cutoffs.astype(np.float32)
    nbits = codec.nbits
    keep = [f for f in doc_tokens.schema.fields if f.name != vec_col]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + ", code long, residual binary"

    def enc(batches):
        from next_plaid_spark.operators.kmeans import _argmax_codes

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float32)
            codes = _argmax_codes(x, c)
            res = x - c[codes]
            idx = np.searchsorted(cutoffs, res, side="left")
            out = pdf.drop(columns=[vec_col]).copy()
            out["code"] = codes
            out["residual"] = _pack_batch(idx, nbits)
            yield out

    return doc_tokens.mapInPandas(enc, schema=out_schema)


def decompress_np(codes, residuals, centroids: np.ndarray,
                  codec: CodecArtifacts) -> np.ndarray:
    """The B7 math as a reusable numpy kernel → [n, dim] float64 unit-norm
    vectors. Shared by the decompress() DataFrame op and the searcher's
    broadcast rerank kernel so both paths are bit-identical by
    construction (same expressions on the same dtypes)."""
    c = np.ascontiguousarray(centroids, dtype=np.float32)
    weights = codec.bucket_weights.astype(np.float32)
    dim = c.shape[1]
    idx = _unpack_batch(list(residuals), dim, codec.nbits)
    vecs = c[np.asarray(codes, dtype=np.int64)] + weights[idx]
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return (vecs / norms).astype(np.float64)


def decompress(coded: DataFrame, centroids: np.ndarray,
               codec: CodecArtifacts) -> DataFrame:
    """B7: ``(…, code, residual)`` → adds ``vec ARRAY<DOUBLE>`` (unit-norm)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in coded.schema.fields
    ) + ", vec array<double>"

    def dec(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = decompress_np(
                pdf["code"].to_numpy(), pdf["residual"], centroids, codec
            )
            out = pdf.copy()
            out["vec"] = list(vecs)
            yield out

    return coded.mapInPandas(dec, schema=out_schema)
