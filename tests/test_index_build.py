"""Index build invariants + codec roundtrip + funnel recall vs brute force.

Mirrors the reference's test strategy (SURVEY.md §5): invariants not
bit-parity for k-means; codec roundtrip (codec.rs:615-753); end-to-end
recall against exact MaxSim as the oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from next_plaid_spark.encoding import encode_documents, encode_queries
from next_plaid_spark.operators.codec import CodecArtifacts, _pack, _unpack
from next_plaid_spark.operators.kmeans import estimate_k, lloyds
from next_plaid_spark.operators.maxsim import brute_force_search
from next_plaid_spark.plans.builder import IndexBuilder
from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams
from next_plaid_spark.sources.index_store import PlaidIndex


def test_estimate_k():
    # FIXTURES.md §8: 6000 tokens → 2^⌊log2(16·√6000)⌋ = 1024
    assert estimate_k(6000) == 1024
    assert estimate_k(1) == 16
    assert estimate_k(0) == 1


def test_lloyds_normalized_and_deterministic():
    rng = np.random.default_rng(0)
    pts = rng.standard_normal((500, 8)).astype(np.float32)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    c1 = lloyds(pts, 16, seed=42)
    c2 = lloyds(pts, 16, seed=42)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)


def test_pack_unpack_roundtrip():
    for nbits in (2, 4):
        rng = np.random.default_rng(1)
        idx = rng.integers(0, 2 ** nbits, size=32)
        assert np.array_equal(_unpack(_pack(idx, nbits), 32, nbits), idx)


@pytest.fixture(scope="module")
def built_index(spark, documents, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plaid_index"))
    docs = documents.limit(200)
    dt = encode_documents(docs)
    idx = IndexBuilder(spark, nbits=4, seed=42).build(dt, path)
    return idx, docs, dt


def test_index_artifacts(spark, built_index):
    idx, docs, dt = built_index
    n_docs = docs.count()
    assert idx.meta.num_documents == n_docs
    assert idx.meta.num_embeddings == dt.count()
    assert idx.meta.dim == 16
    # centroids normalized
    c = idx.centroids_np()
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-5)
    # each doc's codes (the IVF's only source): sorted, distinct and equal
    # to the codes of its tokens
    token_codes = {}
    for r in idx.tokens.select("doc_id", "code").collect():
        token_codes.setdefault(r.doc_id, set()).add(r.code)
    doc_codes = {r.doc_id: list(r.codes) for r in idx.doc_codes.collect()}
    assert doc_codes == {d: sorted(cs) for d, cs in token_codes.items()}
    # doclens sum = num embeddings
    total = idx.doclens.agg(F.sum("num_tokens")).collect()[0][0]
    assert total == idx.meta.num_embeddings


def test_codec_roundtrip_quality(spark, built_index):
    """Decompressed vectors must stay close to originals (4-bit residuals)."""
    from next_plaid_spark.operators.codec import decompress

    idx, docs, dt = built_index
    dec = decompress(idx.tokens, idx.centroids_np(), idx.meta.codec)
    joined = (
        dec.select("doc_id", "token_idx", F.col("vec").alias("dvec"))
        .join(dt.select("doc_id", "token_idx", F.col("vec").alias("ovec")),
              ["doc_id", "token_idx"])
        .collect()
    )
    assert len(joined) == dt.count()
    cos = [
        float(np.dot(r.dvec, r.ovec) / (np.linalg.norm(r.dvec) * np.linalg.norm(r.ovec)))
        for r in joined
    ]
    assert np.mean(cos) > 0.95, f"mean reconstruction cosine {np.mean(cos):.4f}"


def test_funnel_recall_vs_brute_force(spark, built_index):
    idx, docs, dt = built_index
    queries = docs.limit(20).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()

    # rank the WHOLE corpus so every returned doc has its true MaxSim score
    n_docs = docs.count()
    oracle_all = brute_force_search(qt, dt, k=n_docs).collect()
    searcher = BatchSearcher(idx, SearchParams(top_k=10, n_full_scores=256))
    got = searcher.search(qt).collect()

    # Score-multiset recall@10: the synthetic corpus is tie-heavy (many
    # docs share all query tokens), so doc_id set-recall vs the oracle's
    # tie-broken top-10 under-measures. A returned doc is a HIT iff its
    # TRUE brute-force score reaches the oracle's 10th-best score — ties
    # count by score, genuine misses (doc below the cut) don't.
    true_score = {(r.query_id, r.doc_id): r.score for r in oracle_all}
    kth = {}
    for r in oracle_all:
        if r.rank == 10:
            kth[r.query_id] = r.score
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r.query_id, []).append(r.doc_id)
    recalls = []
    for q, cut in kth.items():
        hits = sum(
            1 for d in got_by_q.get(q, [])
            if true_score.get((q, d), float("-inf")) >= cut - 1e-9
        )
        recalls.append(hits / 10.0)
    assert np.mean(recalls) >= 0.95, f"score-multiset recall@10 {np.mean(recalls):.3f}"

    oracle_top1 = {r.query_id: r.score for r in oracle_all if r.rank == 1}
    got_top1 = {r.query_id: r.score for r in got if r.rank == 1}
    close = [
        math.isclose(oracle_top1[q], got_top1.get(q, -1), rel_tol=0.05)
        for q in oracle_top1
    ]
    assert np.mean(close) >= 0.8, f"top-1 score agreement {np.mean(close):.2f}"


def test_filtered_search_selective_subset_recall(spark, built_index):
    """Highly selective filter (subset ≈ 2% of docs): the probe pool must be
    restricted to eligible centroids (search.rs:350-364) so probe slots are
    not wasted on cells with no subset docs. Oracle = exact MaxSim over the
    *quantized* corpus restricted to the subset (isolates funnel loss from
    codec loss). With the subset this small, every subset doc fits the
    decompress budget, so the funnel's exact stage must reproduce the oracle
    ranking for every doc it surfaces."""
    from next_plaid_spark.operators.codec import decompress
    from next_plaid_spark.operators.maxsim import maxsim_scores_relational, topk

    idx, docs, dt = built_index
    queries = docs.limit(12).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    subset_ids = [r.doc_id for r in docs.select("doc_id").collect()][::47][:4]
    subset = spark.createDataFrame([(i,) for i in subset_ids], "doc_id long")

    dec = decompress(idx.tokens, idx.centroids_np(), idx.meta.codec)
    sub_corpus = dec.join(subset, "doc_id", "left_semi")
    oracle = topk(
        maxsim_scores_relational(qt.select("query_id", "token_idx", "vec"), sub_corpus), 4
    ).collect()

    searcher = BatchSearcher(idx, SearchParams(top_k=4, n_full_scores=256))
    got = searcher.search(qt, subset=subset).collect()

    for r in got:  # subset containment is a hard invariant (F9)
        assert r.doc_id in subset_ids
    oracle_by_q, got_by_q = {}, {}
    for r in oracle:
        oracle_by_q.setdefault(r.query_id, set()).add(r.doc_id)
    for r in got:
        got_by_q.setdefault(r.query_id, set()).add(r.doc_id)
    recalls = [
        len(oracle_by_q[q] & got_by_q.get(q, set())) / len(oracle_by_q[q])
        for q in oracle_by_q
    ]
    assert np.mean(recalls) >= 0.9, f"filtered recall {np.mean(recalls):.3f}"
    # scores of surfaced docs must match the oracle exactly (same decompressed
    # vectors, same sorted float64 fold)
    oracle_scores = {(r.query_id, r.doc_id): r.score for r in oracle}
    for r in got:
        if (r.query_id, r.doc_id) in oracle_scores:
            assert math.isclose(
                r.score, oracle_scores[(r.query_id, r.doc_id)], rel_tol=1e-9
            )


def test_filtered_search_empty_subset(spark, built_index):
    """A filter matching no indexed doc returns an empty, correctly-typed
    result instead of probing anything."""
    idx, docs, dt = built_index
    queries = docs.limit(3).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    subset = spark.createDataFrame([(10**9,)], "doc_id long")
    out = BatchSearcher(idx, SearchParams(top_k=5)).search(qt, subset=subset)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "doc_id", "score", "rank"]


def test_filtered_search_empty_subset_exact_config(spark, built_index):
    """Same all-excluding filter under the EXACT configuration (probe all
    cells, t_cs off): this path skips the eligible-cell early return — the
    empty restricted IVF must drain through the funnel's joins to an
    empty result with the same schema, not error or leak rows."""
    idx, docs, dt = built_index
    queries = docs.limit(3).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    subset = spark.createDataFrame([(10**9,)], "doc_id long")
    p = SearchParams(
        top_k=5,
        n_ivf_probe=idx.meta.k,
        n_full_scores=4 * max(idx.meta.num_documents, 1),
        centroid_score_threshold=float("-inf"),
    )
    out = BatchSearcher(idx, p).search(qt, subset=subset)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "doc_id", "score", "rank"]


def test_approx_strategies_agree(spark, built_index):
    """A batch over the broadcast budget runs as chunks of whole queries,
    one funnel each; the union must be bit-identical — scores included —
    to the single-chunk search. Checked with the raw token pdf over the
    budget (each chunk collects its own tokens) and within it (chunks are
    slices of one collected pdf)."""
    idx, docs, dt = built_index
    queries = docs.limit(15).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    p = SearchParams(top_k=10, n_full_scores=256)
    ntok = qt.count()

    def rows(searcher):
        out = sorted(
            (r.query_id, r.doc_id, r.rank, r.score)
            for r in searcher.search(qt).collect()
        )
        searcher.release()
        return out

    single = rows(BatchSearcher(idx, p))
    assert len(single) == 15 * 10
    # 1024 bytes: every query is its own chunk, and at dim 16 the raw token
    # pdf is over the budget as well
    assert ntok * idx.meta.dim * 8 > 1024
    assert rows(BatchSearcher(idx, p, broadcast_budget_bytes=1024)) == single
    # the raw token pdf just fits: the chunks are slices of one collect
    budget = ntok * idx.meta.dim * 8
    assert ntok * idx.meta.k * 8 > budget
    assert rows(BatchSearcher(idx, p, broadcast_budget_bytes=budget)) == single
    qt.unpersist()


def test_chunked_pdf_slicing_matches_per_chunk_collect(spark, built_index):
    """The chunk split's driver-side pdf slicing (used when search() can
    hold the batch's whole token pdf) must yield exactly the rows the
    per-chunk collect returns: same chunk boundaries, same (query_id,
    token_idx, vec) rows in the same order."""
    from next_plaid_spark.plans.searcher import _collect_sorted

    idx, docs, dt = built_index
    queries = docs.limit(12).select(F.col("doc_id").alias("query_id"), "text")
    qtc = encode_queries(queries).select("query_id", "token_idx", "vec").cache()
    searcher = BatchSearcher(idx, SearchParams(top_k=10, n_full_scores=256),
                             broadcast_budget_bytes=1024)
    pdf = _collect_sorted(qtc)
    qids = sorted(set(pdf["query_id"].tolist()))

    def chunks(whole):
        return [
            [(r.query_id, r.token_idx, tuple(r.vec)) for r in c.itertuples()]
            for c in searcher._query_chunks(qtc, qids, len(pdf), whole)
        ]

    via_collect = chunks(None)
    assert len(via_collect) > 1
    assert chunks(pdf) == via_collect
    assert sum(len(c) for c in via_collect) == len(pdf)
    qtc.unpersist()


def test_load_rejects_snapshot_without_bucket_fields(built_index, tmp_path):
    """A meta.json without bucket_table/n_buckets comes from the retired
    plain token layout: loading it names the cause instead of failing on
    a missing tokens table later."""
    import json

    idx, _docs, _dt = built_index
    meta = json.loads(idx.meta.to_json())
    del meta["bucket_table"], meta["n_buckets"]
    (tmp_path / "meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="predates .* rebuild"):
        PlaidIndex.load(idx.spark, str(tmp_path))


def test_exact_funnel_config_equals_brute_over_quantized(spark, built_index):
    """With n_probe=K, t_cs=-inf and an all-docs survivor budget, the
    funnel must reproduce search_brute (exact MaxSim over the quantized
    index) exactly — the same invariant the plaid_search_exact_topk
    oracle entry checks against DuckDB."""
    idx, docs, dt = built_index
    queries = docs.limit(8).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    n_docs = idx.meta.num_documents
    searcher = BatchSearcher(idx, SearchParams(
        top_k=10, n_ivf_probe=idx.meta.k, n_full_scores=4 * n_docs,
        centroid_score_threshold=float("-inf"),
    ))
    funnel = sorted(
        (r.query_id, r.doc_id, r.rank, round(r.score, 9))
        for r in searcher.search(qt).collect()
    )
    brute = sorted(
        (r.query_id, r.doc_id, r.rank, round(r.score, 9))
        for r in searcher.search_brute(qt, k=10).collect()
    )
    assert funnel == brute


def test_exact_all_pairs_shortcut_matches_funnel(spark, built_index):
    """The exact-configuration shortcut (probe_all + cut ≥ corpus skips the
    approx phase and reranks all (query, doc) pairs directly) must be
    bit-identical to the funnel's Q9 over the explicit all-pairs survivor
    set — every query × every indexed doc (∩ subset), which is what the
    approx phase and cut select under that configuration. Checked with and
    without a subset filter, on the raw kernel rows and on search()."""
    from next_plaid_spark.operators.maxsim import topk
    from next_plaid_spark.plans.searcher import _collect_sorted

    idx, docs, dt = built_index
    queries = docs.limit(6).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    qt_pdf = _collect_sorted(qt)
    p = SearchParams(
        top_k=10, n_ivf_probe=idx.meta.k,
        n_full_scores=4 * idx.meta.num_documents,
        centroid_score_threshold=float("-inf"),
    )
    subset = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    searcher = BatchSearcher(idx, p)
    for sub in (None, subset):
        indexed = idx.tokens.select("doc_id").distinct()
        if sub is not None:
            indexed = indexed.join(sub, "doc_id", "left_semi")
        survivors = qt.select("query_id").distinct().crossJoin(indexed)
        want_df = searcher._rerank_broadcast(survivors, qt_pdf)
        got_df = searcher._rerank_all_pairs(qt_pdf, sub)
        want = sorted(map(tuple, want_df.collect()))
        assert len(want) == 6 * indexed.count()
        assert sorted(map(tuple, got_df.collect())) == want
        got = sorted(
            (r.query_id, r.doc_id, r.rank, r.score)
            for r in searcher.search(qt, subset=sub).collect()
        )
        assert got == sorted(
            (r.query_id, r.doc_id, r.rank, r.score)
            for r in topk(want_df, p.top_k).collect()
        )
        searcher.release()
    qt.unpersist()


def test_funnel_on_skewed_corpus(spark, tmp_path_factory):
    """SURVEY §7 risk: Zipfian corpora put most docs in a few IVF cells.
    A corpus where 80% of docs are near-identical (one hot cell) must
    still search correctly and return exact-MaxSim-consistent scores —
    the broadcast strategy's per-doc kernel scans the hot cell's docs
    once each, no per-cell serialization point."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(80)]
    rows += [(80 + i, f"word{i} other{i} thing{i} unique{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dt = encode_documents(docs).cache()
    path = str(tmp_path_factory.mktemp("skew") / "index")
    idx = IndexBuilder(spark, nbits=4, seed=42).build(dt, path)

    queries = docs.filter(F.col("doc_id").isin(0, 85, 90)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    qt = encode_queries(queries).cache()
    got = BatchSearcher(idx, SearchParams(top_k=5, n_full_scores=256)).search(qt)
    rows_out = got.collect()
    by_q = {}
    for r in rows_out:
        by_q.setdefault(r.query_id, []).append(r)
    # every query returns a full page; the self-doc's score tops its list
    oracle = {
        (r.query_id, r.doc_id): r.score
        for r in brute_force_search(qt, dt, k=100).collect()
    }
    for qid, rs in by_q.items():
        assert len(rs) == 5
        top = max(rs, key=lambda r: r.score)
        # tie-heavy hot cell: the top score must equal the true best score
        best_true = max(v for (q, _d), v in oracle.items() if q == qid)
        assert abs(top.score - best_true) < 1e-6
    assert set(by_q) == {0, 85, 90}


def test_distributed_kmeans_build(spark, documents, tmp_path):
    """kmeans_strategy='distributed' (the beyond-driver-sample 100 TB
    path): same artifact invariants, and the funnel still finds the exact
    top-1 for every query (centroid quality gate — the strategy trades
    bit-reproducibility, not retrieval quality)."""
    from next_plaid_spark.encoding import encode_documents, encode_queries
    from next_plaid_spark.operators.maxsim import brute_force_search
    from next_plaid_spark.plans.builder import IndexBuilder
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    docs = documents.limit(120)
    dt = encode_documents(docs)
    idx = IndexBuilder(
        spark, nbits=4, seed=42, kmeans_strategy="distributed"
    ).build(dt, str(tmp_path / "idx"))

    c = idx.centroids_np()
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-4)
    assert idx.meta.num_documents == 120

    queries = docs.limit(8).select(F.col("doc_id").alias("query_id"), "text")
    qt = encode_queries(queries).cache()
    exact = {
        (r.query_id, r.rank): r.score
        for r in brute_force_search(qt, dt, k=1).collect()
    }
    got = {
        (r.query_id, r.rank): r.score
        for r in BatchSearcher(
            idx, SearchParams(top_k=1, n_full_scores=64, keep_best_cell=True)
        ).search(qt).collect()
    }
    # exact-MaxSim rerank means matching scores wherever the candidate set
    # contains the winner — require the top-1 score to match for all queries
    for key, score in exact.items():
        assert abs(got[key] - score) < 1e-6


def test_builder_auto_strategy_threshold(spark, documents, tmp_path):
    """'auto' picks the driver-sample path for small corpora (reference
    sample law far under the cap) and rejects unknown strategies."""
    from next_plaid_spark.plans.builder import IndexBuilder

    with pytest.raises(ValueError):
        IndexBuilder(spark, kmeans_strategy="bogus")
    from next_plaid_spark.operators.kmeans import sample_token_budget

    assert sample_token_budget(200, 40.0) <= IndexBuilder.KMEANS_DRIVER_SAMPLE_CAP
    # ~1M docs × 300 tokens: the law exceeds the cap → auto would go distributed
    assert sample_token_budget(1_000_000, 300.0) > IndexBuilder.KMEANS_DRIVER_SAMPLE_CAP


def test_driver_sample_cap_is_dim_aware(monkeypatch):
    """The effective driver-sample cap is a byte budget over the vector
    width (r14): a narrow dim-16 corpus the flat row cap would push to
    MLlib k-means‖ stays on the driver path, wide vectors keep the flat
    floor, and a 100 TB-shaped budget still exceeds the cap at any width."""
    from next_plaid_spark.operators.kmeans import sample_token_budget
    from next_plaid_spark.plans.builder import IndexBuilder

    # sf0.1 code-corpus shape: ~6.3k docs × ~44 tokens → budget ~280k rows,
    # just over the flat cap but tiny in bytes at dim 16
    code_budget = sample_token_budget(6_300, 44.0)
    assert code_budget > IndexBuilder.KMEANS_DRIVER_SAMPLE_CAP
    assert code_budget <= IndexBuilder._driver_sample_cap(16)
    # wide vectors: the byte budget binds and the flat cap is the floor
    assert IndexBuilder._driver_sample_cap(128) == max(
        IndexBuilder.KMEANS_DRIVER_SAMPLE_CAP,
        IndexBuilder.KMEANS_DRIVER_SAMPLE_BYTES // (128 * 8))
    # 100 TB shape: budget far beyond the byte cap at every width
    assert sample_token_budget(1_000_000_000, 300.0) \
        > IndexBuilder._driver_sample_cap(16)
    # env override parameterizes the budget for bigger drivers
    monkeypatch.setenv("SPARK_GRAFT_KMEANS_SAMPLE_MB", "1024")
    assert IndexBuilder._driver_sample_cap(16) \
        == 1024 * 1024 * 1024 // (16 * 8)


def test_spread_small_is_scale_gated(spark, built_index):
    """The kernel-input spread (searcher.py::_spread_small) must engage on
    tiny corpora (parallelize the numpy kernels) and be a STRICT no-op
    past the size gate — at cluster scale an explicit repartition of the
    token table would be a corpus-wide exchange."""
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    idx, _, _ = built_index
    s = BatchSearcher(idx, SearchParams(top_k=5))
    df = idx.tokens.select("doc_id", "code")
    spread = s._spread_small(df)
    assert spread is not df
    assert (spread.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    old = idx.meta.num_embeddings
    try:
        idx.meta.num_embeddings = 10**9  # pretend 100 TB-ish
        assert s._spread_small(df) is df  # identical plan, no exchange
    finally:
        idx.meta.num_embeddings = old


def test_argmax_codes_chunked_matches_full(monkeypatch):
    """The assignment kernel's score-matrix chunking (r14) must return the
    same argmax codes as the single-GEMM path on deterministic unit
    vectors — and must not engage at all under the byte threshold."""
    import numpy as np

    from next_plaid_spark.operators import kmeans as km

    rng = np.random.default_rng(7)
    c = rng.standard_normal((513, 16)).astype(np.float32)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    x = rng.standard_normal((4001, 16)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)

    full = np.argmax(x @ c.T, axis=1).astype(np.int64)
    assert np.array_equal(km._argmax_codes(x, c), full)  # under threshold

    monkeypatch.setattr(km, "ASSIGN_CHUNK_BYTES", 64 * 513 * 4)  # force chunks
    assert np.array_equal(km._argmax_codes(x, c), full)


def test_pack_unpack_batch():
    """_unpack_batch must be bit-identical to per-row _unpack for every
    nbits fast path (4-bit nibbles, 8-bit bytes, generic) and for dims
    that don't byte-align."""
    import numpy as np

    from next_plaid_spark.operators.codec import _pack, _unpack, _unpack_batch

    rng = np.random.default_rng(3)
    for nbits, dim in ((4, 16), (4, 5), (2, 16), (2, 7), (8, 3)):
        idxs = rng.integers(0, 2 ** nbits, size=(97, dim))
        raws = [_pack(r, nbits) for r in idxs]
        per_row = np.asarray([_unpack(r, dim, nbits) for r in raws])
        assert np.array_equal(_unpack_batch(raws, dim, nbits), per_row), (nbits, dim)
        assert np.array_equal(
            _unpack_batch([bytearray(r) for r in raws], dim, nbits), per_row)
    assert _unpack_batch([], 16, 4).shape == (0, 16)
