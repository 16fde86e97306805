"""S4 converter: a synthesized legacy NPY index directory (the reference's
index.rs:400-520 layout, including the fastplaid f16 variant) converts
into a parquet PlaidIndex that searches identically to a natively-written
one."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from next_plaid_spark.operators.codec import CodecArtifacts, _pack_batch
from next_plaid_spark.sources.index_store import IndexMeta, write_index
from next_plaid_spark.sources.legacy_npy import convert_npy_index


@pytest.fixture()
def legacy_dir(tmp_path):
    rng = np.random.default_rng(9)
    k, dim, nbits = 4, 4, 2
    centroids = rng.standard_normal((k, dim)).astype(np.float32)
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    cutoffs = np.asarray([-0.1, 0.0, 0.1], dtype=np.float32)
    weights = np.asarray([-0.15, -0.05, 0.05, 0.15], dtype=np.float32)

    # two chunks: 3 docs (2,3,1 tokens) + 2 docs (2,2 tokens)
    chunk_doclens = [[2, 3, 1], [2, 2]]
    src = str(tmp_path / "legacy")
    os.makedirs(src)
    np.save(os.path.join(src, "centroids.npy"), centroids.astype(np.float16))
    np.save(os.path.join(src, "bucket_cutoffs.npy"), cutoffs.astype(np.float16))
    np.save(os.path.join(src, "bucket_weights.npy"), weights.astype(np.float16))
    np.save(os.path.join(src, "avg_residual.npy"),
            np.full(dim, 0.05, dtype=np.float16))
    np.save(os.path.join(src, "cluster_threshold.npy"),
            np.asarray([0.3], dtype=np.float32))
    with open(os.path.join(src, "plan.json"), "w") as f:
        json.dump({"nbits": nbits, "num_chunks": 2}, f)

    expected = []   # (doc_id, token_idx, code, residual_bytes)
    doc_base = 0
    total_tokens = 0
    for ci, dl in enumerate(chunk_doclens):
        n_tok = sum(dl)
        codes = rng.integers(0, k, n_tok)
        bucket_idx = rng.integers(0, 1 << nbits, (n_tok, dim))
        res_bytes = _pack_batch(bucket_idx, nbits)
        res_mat = np.frombuffer(
            b"".join(res_bytes), dtype=np.uint8
        ).reshape(n_tok, -1)
        np.save(os.path.join(src, f"{ci}.codes.npy"), codes.astype(np.int64))
        np.save(os.path.join(src, f"{ci}.residuals.npy"), res_mat)
        with open(os.path.join(src, f"doclens.{ci}.json"), "w") as f:
            json.dump(dl, f)
        with open(os.path.join(src, f"{ci}.metadata.json"), "w") as f:
            json.dump({"num_documents": len(dl), "num_embeddings": n_tok,
                       "embedding_offset": total_tokens}, f)
        t = 0
        for di, n in enumerate(dl):
            for j in range(n):
                expected.append(
                    (doc_base + di, j, int(codes[t]), res_bytes[t]))
                t += 1
        doc_base += len(dl)
        total_tokens += n_tok
    n_docs = sum(len(dl) for dl in chunk_doclens)
    with open(os.path.join(src, "metadata.json"), "w") as f:
        json.dump({
            "num_chunks": 2, "nbits": nbits, "num_partitions": k,
            "num_embeddings": total_tokens, "num_documents": n_docs,
            "avg_doclen": total_tokens / n_docs, "embedding_dim": dim,
            "next_plaid_compatible": True,
        }, f)
    return src, expected, centroids, cutoffs, weights, nbits


def test_convert_matches_layout_and_native_search(spark, tmp_path, legacy_dir):
    src, expected, centroids, cutoffs, weights, nbits = legacy_dir

    idx = convert_npy_index(spark, src, str(tmp_path / "converted"))
    assert idx.meta.num_documents == 5 and idx.meta.num_embeddings == 10
    assert idx.meta.k == 4 and idx.meta.nbits == nbits
    # f16 artifacts arrive widened to f32
    assert idx.centroids_np().dtype == np.float32

    got = sorted(
        (r.doc_id, r.token_idx, r.code, bytes(r.residual))
        for r in idx.tokens.collect()
    )
    assert got == sorted(expected)

    # derived per-doc codes, the IVF's source: sorted distinct codes per
    # doc (index.rs:479-508)
    want_codes = {}
    for d, _, c, _ in expected:
        want_codes.setdefault(d, set()).add(c)
    got_codes = {r.doc_id: list(r.codes) for r in idx.doc_codes.collect()}
    assert got_codes == {d: sorted(cs) for d, cs in want_codes.items()}

    # identical search results vs a natively-written index over the same
    # coded tokens (exact funnel config; converted codec drives decompress)
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    native = write_index(
        spark, str(tmp_path / "native"),
        tokens_coded=spark.createDataFrame(
            expected, "doc_id long, token_idx int, code long, residual binary"
        ),
        # the legacy dir stores f16 — the native twin must round the same
        centroids=centroids.astype(np.float16).astype(np.float32),
        meta=IndexMeta(
            k=4, dim=4, nbits=nbits, num_documents=5, num_embeddings=10,
            avg_doclen=2.0,
            codec=CodecArtifacts(
                nbits=nbits,
                bucket_cutoffs=cutoffs.astype(np.float16).astype(np.float32),
                bucket_weights=weights.astype(np.float16).astype(np.float32),
                avg_residual=np.full(4, 0.05, dtype=np.float32),
                cluster_threshold=0.3,
            ),
        ),
    )
    rng = np.random.default_rng(12)
    q = rng.standard_normal((2, 3, 4)).astype(np.float32)
    qt = spark.createDataFrame(
        [(int(i), int(j), q[i, j].tolist())
         for i in range(2) for j in range(3)],
        "query_id long, token_idx int, vec array<float>",
    )
    p = SearchParams(top_k=3, n_ivf_probe=4,
                     centroid_score_threshold=float("-inf"))
    a = sorted(tuple(r) for r in BatchSearcher(idx, p).search(qt).collect())
    b = sorted(tuple(r) for r in BatchSearcher(native, p).search(qt).collect())
    assert a == b and a


def test_export_then_convert_roundtrip(spark, tmp_path):
    """parquet index → NPY export → convert back: token-exact for dense
    doc ids; sparse ids renumber to dense ranks (the reference addresses
    docs positionally)."""
    import numpy as np

    from next_plaid_spark.encoding import clustered_token_corpus
    from next_plaid_spark.plans.builder import IndexBuilder
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams
    from next_plaid_spark.sources.legacy_npy import export_npy_index

    toks, _ = clustered_token_corpus(
        spark, n_docs=120, tokens_per_doc=3, dim=8, n_clusters=8, seed=2
    )
    native = IndexBuilder(spark, k=8).build(toks, str(tmp_path / "nat"))

    dest = str(tmp_path / "npy_export")
    n_chunks = export_npy_index(spark, native, dest, docs_per_chunk=50)
    assert n_chunks == 3  # 120 docs / 50

    # the exported artifacts parse as the reference layout
    import json

    with open(f"{dest}/metadata.json") as f:
        m = json.load(f)
    assert m["num_documents"] == 120 and m["num_chunks"] == 3
    assert np.load(f"{dest}/ivf_lengths.npy").sum() > 0
    with open(f"{dest}/doclens.0.json") as f:
        assert sum(json.load(f)) == 50 * 3

    back = convert_npy_index(spark, dest, str(tmp_path / "back"))
    a = sorted(
        (r.doc_id, r.token_idx, r.code, bytes(r.residual))
        for r in native.tokens.collect()
    )
    b = sorted(
        (r.doc_id, r.token_idx, r.code, bytes(r.residual))
        for r in back.tokens.collect()
    )
    assert a == b  # dense ids: byte-exact round trip

    qt = toks.filter(F.col("doc_id") % 12 == 0).select(
        F.col("doc_id").alias("query_id"), "token_idx", "vec"
    )
    p = SearchParams(top_k=5, centroid_score_threshold=float("-inf"),
                     n_ivf_probe=8)
    ra = sorted(tuple(r) for r in BatchSearcher(native, p).search(qt).collect())
    rb = sorted(tuple(r) for r in BatchSearcher(back, p).search(qt).collect())
    assert ra == rb and ra


def test_export_renumbers_sparse_doc_ids(spark, tmp_path):
    import json

    import numpy as np

    from next_plaid_spark.operators.codec import CodecArtifacts
    from next_plaid_spark.sources.index_store import IndexMeta, write_index
    from next_plaid_spark.sources.legacy_npy import export_npy_index

    rows = [  # sparse ids 7, 100, 5000
        (7, 0, 1, b"\x10"), (7, 1, 2, b"\x20"),
        (100, 0, 0, b"\x30"), (5000, 0, 3, b"\x40"),
    ]
    cents = np.eye(4, dtype=np.float32)
    codec = CodecArtifacts(
        nbits=2, bucket_cutoffs=np.asarray([-0.1, 0.0, 0.1], np.float32),
        bucket_weights=np.asarray([-0.15, -0.05, 0.05, 0.15], np.float32),
        avg_residual=np.full(4, 0.05, np.float32), cluster_threshold=0.3,
    )
    idx = write_index(
        spark, str(tmp_path / "sparse"),
        tokens_coded=spark.createDataFrame(
            rows, "doc_id long, token_idx int, code long, residual binary"),
        centroids=cents,
        meta=IndexMeta(k=4, dim=4, nbits=2, num_documents=3,
                       num_embeddings=4, avg_doclen=4 / 3, codec=codec),
    )
    dest = str(tmp_path / "sparse_npy")
    export_npy_index(spark, idx, dest, docs_per_chunk=2)
    with open(f"{dest}/doclens.0.json") as f:
        assert json.load(f) == [2, 1]   # ranks 0 (id 7), 1 (id 100)
    with open(f"{dest}/doclens.1.json") as f:
        assert json.load(f) == [1]      # rank 2 (id 5000)
    # ivf refers to dense ranks
    ivf = np.load(f"{dest}/ivf.npy")
    assert set(ivf.tolist()) <= {0, 1, 2}


def test_convert_handles_zero_token_docs(spark, tmp_path):
    """Legacy doclens may contain 0-length documents (deleted/empty);
    they must survive conversion as docs with no token rows while later
    docs keep correct ids."""
    import json

    import numpy as np

    src = str(tmp_path / "legacy0")
    os.makedirs(src)
    k, dim, nbits = 2, 4, 2
    np.save(os.path.join(src, "centroids.npy"), np.eye(k, dim, dtype=np.float32))
    np.save(os.path.join(src, "bucket_cutoffs.npy"), np.asarray([0.0], np.float32))
    np.save(os.path.join(src, "bucket_weights.npy"),
            np.asarray([-0.1, 0.1], np.float32))
    np.save(os.path.join(src, "avg_residual.npy"), np.full(dim, 0.1, np.float32))
    with open(os.path.join(src, "plan.json"), "w") as f:
        json.dump({"nbits": nbits, "num_chunks": 1}, f)
    # doc 0: 2 tokens, doc 1: EMPTY, doc 2: 1 token
    codes = np.asarray([0, 1, 0], dtype=np.int64)
    res = np.zeros((3, 1), dtype=np.uint8)
    np.save(os.path.join(src, "0.codes.npy"), codes)
    np.save(os.path.join(src, "0.residuals.npy"), res)
    with open(os.path.join(src, "doclens.0.json"), "w") as f:
        json.dump([2, 0, 1], f)
    with open(os.path.join(src, "metadata.json"), "w") as f:
        json.dump({"num_chunks": 1, "nbits": nbits, "num_partitions": k,
                   "num_embeddings": 3, "num_documents": 3,
                   "avg_doclen": 1.0, "embedding_dim": dim}, f)

    idx = convert_npy_index(spark, src, str(tmp_path / "conv0"))
    rows = sorted((r.doc_id, r.token_idx) for r in idx.tokens.collect())
    assert rows == [(0, 0), (0, 1), (2, 0)]  # doc 1 empty, doc 2 intact


def test_export_preserves_zero_token_doc_ids(spark, tmp_path):
    """convert(legacy with an empty doc) → export(include_id_gaps=True)
    must reproduce the legacy doclens EXACTLY (zero entry included) instead
    of renumbering later docs past the gap; the doc_id→rank map is
    persisted for callers holding external ids."""
    import json

    import numpy as np

    from next_plaid_spark.sources.legacy_npy import export_npy_index

    src = str(tmp_path / "legacy_gap")
    os.makedirs(src)
    k, dim, nbits = 2, 4, 2
    np.save(os.path.join(src, "centroids.npy"), np.eye(k, dim, dtype=np.float32))
    np.save(os.path.join(src, "bucket_cutoffs.npy"),
            np.asarray([-0.1, 0.0, 0.1], np.float32))
    np.save(os.path.join(src, "bucket_weights.npy"),
            np.asarray([-0.15, -0.05, 0.05, 0.15], np.float32))
    np.save(os.path.join(src, "avg_residual.npy"), np.full(dim, 0.1, np.float32))
    with open(os.path.join(src, "plan.json"), "w") as f:
        json.dump({"nbits": nbits, "num_chunks": 1}, f)
    codes = np.asarray([0, 1, 0], dtype=np.int64)
    res = np.arange(3, dtype=np.uint8).reshape(3, 1)
    np.save(os.path.join(src, "0.codes.npy"), codes)
    np.save(os.path.join(src, "0.residuals.npy"), res)
    with open(os.path.join(src, "doclens.0.json"), "w") as f:
        json.dump([2, 0, 1], f)  # doc 1 is EMPTY
    with open(os.path.join(src, "metadata.json"), "w") as f:
        json.dump({"num_chunks": 1, "nbits": nbits, "num_partitions": k,
                   "num_embeddings": 3, "num_documents": 3,
                   "avg_doclen": 1.0, "embedding_dim": dim}, f)

    idx = convert_npy_index(spark, src, str(tmp_path / "conv_gap"))
    dest = str(tmp_path / "export_gap")
    export_npy_index(spark, idx, dest, docs_per_chunk=50,
                     include_id_gaps=True)

    with open(os.path.join(dest, "doclens.0.json")) as f:
        assert json.load(f) == [2, 0, 1]
    with open(os.path.join(dest, "0.metadata.json")) as f:
        cm = json.load(f)
    assert cm["num_documents"] == 3 and cm["num_embeddings"] == 3
    assert np.array_equal(np.load(os.path.join(dest, "0.codes.npy")), codes)
    assert np.array_equal(np.load(os.path.join(dest, "0.residuals.npy")), res)
    with open(os.path.join(dest, "metadata.json")) as f:
        assert json.load(f)["num_documents"] == 3
    # ivf ranks skip nothing: doc 2 keeps positional id 2
    ivf = np.load(os.path.join(dest, "ivf.npy"))
    assert set(ivf.tolist()) == {0, 2}
    # the persisted id map round-trips external ids
    m = {r.doc_id: r.rank for r in spark.read.parquet(
        os.path.join(dest, "doc_id_map")).collect()}
    assert m == {0: 0, 1: 1, 2: 2}
